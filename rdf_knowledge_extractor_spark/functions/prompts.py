"""Extraction prompt construction.

Byte-parity with the reference prompt builder
(ref:src/core/llm_client.rs:256-333) with one documented deviation:
the reference iterates `schema.predicates` (a HashMap → nondeterministic
order); we sort predicate names so prompts are deterministic.
"""

from __future__ import annotations

from rdf_knowledge_extractor_spark.config import ExtractionQuestion, RdfSchema

_INSTRUCTIONS = """
Extract the requested information from the document and return it as RDF triples.
Each triple should have:
- subject: The entity being described (use URIs from the base URI)
- predicate: The relationship or property (use predicates from the schema)
- object: The value or related entity

Return the triples as a JSON array with objects containing 'subject', 'predicate', and 'object' fields.
Only extract information that directly answers the specified questions.
If information is not found in the document, do not create triples for it.

Example format:
[
  {
    "subject": "http://example.org/resource/company1",
    "predicate": "http://example.org/ontology#hasName",
    "object": "Acme Corporation"
  }
]
"""

SYSTEM_PROMPT = """You are an expert knowledge extraction system specializing in converting unstructured text into structured RDF triples.

Your task is to:
1. Carefully read and understand the provided document
2. Extract only the information that directly answers the specified questions
3. Structure the extracted information as valid RDF triples
4. Ensure all URIs are properly formatted using the provided base URI
5. Use only the predicates defined in the schema
6. Be precise and avoid inferring information not explicitly stated

Return your response as a JSON array of triple objects."""


# the prompt's document budget in bytes
PROMPT_DOC_BYTES = 8000


def truncate_to_bytes(text: str) -> str:
    """First `PROMPT_DOC_BYTES` BYTES of text (ref:src/core/llm_client.rs:263-270
    slices `&document_text[..8000]` — a byte slice).  Rust panics on a
    non-char boundary; we back off to the previous UTF-8 boundary."""
    encoded = text.encode("utf-8")
    if len(encoded) <= PROMPT_DOC_BYTES:
        return text
    return encoded[:PROMPT_DOC_BYTES].decode("utf-8", errors="ignore")


def build_extraction_prompt(
    document_text: str,
    questions: list[ExtractionQuestion],
    schema: RdfSchema,
) -> str:
    # ref:src/core/llm_client.rs:256-319
    parts: list[str] = []
    parts.append("## Document Content\n")
    parts.append(truncate_to_bytes(document_text))
    parts.append("\n\n")

    parts.append("## Information to Extract\n")
    for q in questions:
        parts.append(f"- {q.id}: {q.question}\n")
        if q.constraints:
            parts.append(f"  Constraints: {', '.join(q.constraints)}\n")
    parts.append("\n")

    parts.append("## RDF Schema\n")
    parts.append(f"Base URI: {schema.base_uri}\n")
    parts.append(f"Namespace: {schema.namespace}\n")
    if schema.predicates:
        parts.append("\nAvailable Predicates:\n")
        for pred in sorted(schema.predicates):  # sorted: determinism deviation
            parts.append(f"- {pred}: {schema.predicates[pred]}\n")

    parts.append("\n## Instructions\n")
    parts.append(_INSTRUCTIONS)
    return "".join(parts)
