"""Knowledge-graph construction benchmark (see run.py)."""
