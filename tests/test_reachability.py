"""Every package def is reachable from a production entry point.

A static walk with `ast`, no Spark.  The roots are the entry points
(`__spark_entry__.py`, `bench.py`, `kgbench/`, `examples/`, `tools/` and
the CLI), the package's module-level code and the kept surfaces in
`KEPT`.  A def is reached when a reached body names it (a call, an
attribute, an import); a method also needs its class reached, and a
dunder method comes with its class.  Matching is by name, so a name two
defs share reaches both: the walk can miss dead code, never flag live
code.  A def that only tests reach fails `test_every_package_def_is_reachable`.

The same roots guard the options, the keyword parameters with a
default (column names aside).  One that no call in the package or the
entry points sets (by keyword, at its position, or through
`*args`/`**kwargs`) fails `test_every_option_has_a_production_setter`.
One that every such call passes as the same literal fails
`test_every_option_takes_more_than_one_production_value`; a call that
passes a non-literal or `*args`/`**kwargs` over it, or a use of the def
as a value (`SERIALIZERS["turtle"] = serialize_turtle`, a call that sets
nothing), clears it.  Calls match by name and a constructor by its
class's name, so a call sets the option of every def that shares its
name: both scans can miss an option, never flag one that production
sets to two values.
`KEPT_OPTIONS` lists the options kept on purpose, with a reason, and
`test_settable_values_are_pinned` pins how many options there are.

A package module other than `plans/store.py` that calls `os.replace`,
`os.rename` or `write_json_atomic` fails
`test_only_the_store_swaps_files`.

A package module that imports another package module's
underscore-prefixed name fails `test_no_private_imports_across_modules`,
unless `SHARED_PRIVATE` lists the import with a reason.  A package
module that calls `clearCache` fails
`test_no_package_module_clears_the_session_cache`.
"""

from __future__ import annotations

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PACKAGE = ROOT / "rdf_knowledge_extractor_spark"
ENTRY_POINTS = (
    "__spark_entry__.py",
    "bench.py",
    "kgbench",
    "examples",
    "tools",
    "rdf_knowledge_extractor_spark/cli.py",
)

# Surfaces kept although no entry point calls them: the streaming sinks,
# the N-Triples reader and the template surface are part of the system;
# cosine_pairs is the reference cosine_pairs_bucketed is tested against;
# the distributed page generator and with_extracted_text are imported by
# the worker script tools/scaling_bench.py runs from a string.
KEPT = frozenset(
    {
        "streaming/ingest.py:read_pages_stream",
        "streaming/ingest.py:streaming_triples",
        "streaming/ingest.py:start_triples_sink",
        "streaming/ingest.py:start_graph_merge_sink",
        "streaming/ingest.py:streaming_hourly_counts",
        "streaming/ingest.py:streaming_curate",
        "streaming/ingest.py:start_attribution_sink",
        "streaming/neardup.py:start_neardup_filter_sink",
        "streaming/stateful.py:streaming_sessions_stateful",
        "sources/ntriples.py:read_ntriples",
        "templates/engine.py:extract_template_fields",
        "templates/engine.py:TemplateManager.load_dir",
        "operators/similarity.py:cosine_pairs",
        "sources/pages.py:pages_dataframe_distributed",
        "functions/html_text.py:with_extracted_text",
    }
)


def _names(node: ast.AST) -> set[str]:
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
    return out


def _prefixes(node: ast.AST) -> set[str]:
    """String arguments of `.startswith(...)`: a class that dispatches
    to its own methods by name prefix (`getattr` over `dir(self)`)."""
    return {
        a.value
        for n in ast.walk(node)
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "startswith"
        for a in n.args
        if isinstance(a, ast.Constant)
        and isinstance(a.value, str)
        and a.value.isidentifier()
    }


def _signature_parts(fn) -> list[ast.AST]:
    a = fn.args
    return [*fn.decorator_list, *a.defaults, *(d for d in a.kw_defaults if d)]


def _entry_files() -> list[Path]:
    files = []
    for entry in ENTRY_POINTS:
        p = ROOT / entry
        files += [p] if p.is_file() else sorted(p.rglob("*.py"))
    return files


def _package_defs():
    """([(label, class or None, name, node)], module-level code)."""
    defs, module_code = [], []
    for path in sorted(PACKAGE.rglob("*.py")):
        mod = path.relative_to(PACKAGE).as_posix()
        for st in ast.parse(path.read_text()).body:
            if isinstance(st, (ast.FunctionDef, ast.AsyncFunctionDef)):
                defs.append((f"{mod}:{st.name}", None, st.name, st))
                module_code += _signature_parts(st)
            elif isinstance(st, ast.ClassDef):
                defs.append((f"{mod}:{st.name}", None, st.name, st))
                module_code += [*st.decorator_list, *st.bases, *st.keywords]
                for b in st.body:
                    if isinstance(b, (ast.FunctionDef, ast.AsyncFunctionDef)):
                        defs.append((f"{mod}:{st.name}.{b.name}", f"{mod}:{st.name}", b.name, b))
                        module_code += _signature_parts(b)
                    else:
                        module_code.append(b)
            else:
                module_code.append(st)
    return defs, module_code


def _unreachable(kept: frozenset[str] = KEPT) -> list[str]:
    defs, module_code = _package_defs()
    names: set[str] = set()
    prefixes: set[str] = set()
    roots = list(module_code) + [ast.parse(f.read_text()) for f in _entry_files()]
    for node in roots:
        names |= _names(node)
        prefixes |= _prefixes(node)
    reached: set[str] = set()
    grew = True
    while grew:
        grew = False
        for label, cls, name, node in defs:
            if label in reached:
                continue
            if label in kept:
                hit = True
            elif cls is None:
                hit = name in names
            else:
                hit = cls in reached and (
                    name in names
                    or (name.startswith("__") and name.endswith("__"))
                    or any(name.startswith(p) for p in prefixes)
                )
            if hit:
                reached.add(label)
                grew = True
                if not isinstance(node, ast.ClassDef):
                    names |= _names(node)
                    prefixes |= _prefixes(node)
    return [label for label, *_ in defs if label not in reached]


def test_every_package_def_is_reachable():
    unreached = _unreachable()
    assert not unreached, (
        "package defs that no entry point, module-level code or kept "
        "surface reaches (delete them, or add a production caller):\n  "
        + "\n  ".join(unreached)
    )


def test_kept_surfaces_exist_and_need_the_list():
    """Each `KEPT` entry names a def that is reported without the list:
    a stale entry (deleted def, or one a production caller now reaches)
    fails here.  This also shows the walk can flag a def."""
    flagged = set(_unreachable(kept=frozenset()))
    assert KEPT <= flagged, sorted(KEPT - flagged)


# Keyword options with a default that no production call sets, or that
# every production call sets to one literal, kept on purpose.  Column
# names (`_COLUMN_SUFFIXES`, `_COLUMN_PARAMS`) name the caller's schema,
# not a behaviour, and are not options.
KEPT_OPTIONS = {
    "functions/jpeg.py:encode_jpeg(quality=)": "tests build decoder inputs at other qualities; the decoder reads outside bytes",
    "functions/jpeg.py:encode_jpeg(subsampling=)": "tests build the 4:2:0 decoder inputs",
    "functions/jpeg.py:encode_jpeg(restart_interval=)": "tests build the restart-marker decoder inputs",
    "functions/wav.py:encode_wav(sample_rate=)": "tests build decoder inputs at other rates; the decoder reads outside bytes",
    "operators/profile.py:table_profile(columns=)": "it names the caller's schema",
    "plans/pipeline.py:KgPipeline.__init__(partitions=)": "the deployment's shuffle width",
    "plans/pipeline.py:KgPipeline.__init__(client_kind=)": "the LLM backend is a deployment setting",
    "plans/pipeline.py:KgPipeline.commit_to_store(batch_id=)": "a commit's identity",
    "plans/store.py:TripleStore.vacuum(min_age_sec=)": "the safety margin for a concurrent writer's file set",
    "sources/pages.py:pages_dataframe(seed=)": "it selects the input corpus, and bench.py passes it",
    "templates/engine.py:TemplateManager.generate_document(overrides=)": "the template surface's per-query overrides",
}
_COLUMN_SUFFIXES = ("_col", "_cols", "_alias")
_COLUMN_PARAMS = frozenset({"src", "dst", "col", "table"})


def _calls() -> tuple[dict[str, list[ast.Call]], dict[str, int]]:
    """Every call in the package and the entry points, by called name,
    and how often each name is used as a value without being called
    (`SERIALIZERS["turtle"] = serialize_turtle`)."""
    calls: dict = {}
    refs: dict = {}
    for f in sorted(PACKAGE.rglob("*.py")) + _entry_files():
        tree = ast.parse(f.read_text())
        called = set()
        for n in ast.walk(tree):
            if isinstance(n, ast.Call):
                fn = n.func
                called.add(id(fn))
                name = fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)
                calls.setdefault(name, []).append(n)
        for n in ast.walk(tree):
            if id(n) in called or not isinstance(getattr(n, "ctx", None), ast.Load):
                continue
            if isinstance(n, (ast.Name, ast.Attribute)):
                name = n.id if isinstance(n, ast.Name) else n.attr
                refs[name] = refs.get(name, 0) + 1
    return calls, refs


def _options():
    """(key, called name, positional index or None, name) of every
    settable value: a keyword parameter with a default, outside `KEPT`
    and the column-name rule.  A constructor is called by its class's name."""
    for label, cls, name, node in _package_defs()[0]:
        if label in KEPT or isinstance(node, ast.ClassDef):
            continue
        a = node.args
        pos = [*a.posonlyargs, *a.args]
        offset = 1 if cls is not None and pos and pos[0].arg in ("self", "cls") else 0
        opts = [(i - offset, p.arg) for i, p in enumerate(pos) if i >= len(pos) - len(a.defaults)]
        opts += [(None, p.arg) for p, d in zip(a.kwonlyargs, a.kw_defaults) if d is not None]
        called = cls.split(":")[1] if name == "__init__" else name
        for i, opt in opts:
            if not (opt.endswith(_COLUMN_SUFFIXES) or opt in _COLUMN_PARAMS):
                yield f"{label}({opt}=)", called, i, opt


_STAR = object()


def _passed(call: ast.Call, i: int | None, opt: str):
    """What `call` passes for the option: the argument node, None when
    it sets nothing, or `_STAR` when `*args`/`**kwargs` may carry it."""
    for k in call.keywords:
        if k.arg == opt:
            return k.value
    if any(k.arg is None for k in call.keywords):
        return _STAR
    star = next((j for j, x in enumerate(call.args) if isinstance(x, ast.Starred)), None)
    if i is not None and star is not None and i >= star:
        return _STAR
    if i is not None and i < len(call.args):
        return call.args[i]
    return None


def _unset_options(kept_options=KEPT_OPTIONS) -> list[str]:
    """Options with a default that no call in the roots sets: by keyword,
    at its positional index, or through `*args`/`**kwargs`.  Calls match
    by name; a constructor matches by its class's name."""
    calls, _ = _calls()
    return [
        key
        for key, called, i, opt in _options()
        if key not in kept_options
        and all(_passed(c, i, opt) is None for c in calls.get(called, []))
    ]


def _literal(node) -> str | None:
    """The literal `node` holds; None for anything else (a non-literal,
    a call that sets nothing, `_STAR`)."""
    try:
        return repr(ast.literal_eval(node))
    except ValueError:
        return None


def _one_literal_options(kept_options=KEPT_OPTIONS) -> list[str]:
    """Options that every call in the roots passes as one and the same
    literal.  A def named as a value (and not called) counts as a call
    that sets nothing; a call that passes `*args`/`**kwargs` over the
    option, or a non-literal, means the option is not flagged."""
    calls, refs = _calls()
    flagged = []
    for key, called, i, opt in _options():
        if key in kept_options or refs.get(called) or not calls.get(called):
            continue
        values = {_literal(_passed(c, i, opt)) for c in calls[called]}
        if len(values) == 1 and None not in values:
            flagged.append(key)
    return flagged


def test_every_option_has_a_production_setter():
    unset = _unset_options()
    assert not unset, (
        "keyword options that no production call sets (make them a fixed "
        "value, or add a production caller):\n  " + "\n  ".join(unset)
    )


def test_every_option_takes_more_than_one_production_value():
    unfixed = _one_literal_options()
    assert not unfixed, (
        "keyword options that every production call passes as the same "
        "literal (make them a fixed value):\n  " + "\n  ".join(unfixed)
    )


def test_kept_options_need_the_list():
    """Each `KEPT_OPTIONS` entry names an option one of the two option
    scans reports without the list: a stale entry (deleted option, or
    one production now sets to two values) fails here."""
    flagged = set(_unset_options(kept_options={})) | set(_one_literal_options(kept_options={}))
    assert set(KEPT_OPTIONS) <= flagged, sorted(set(KEPT_OPTIONS) - flagged)


# The number of settable values (`_options`).  Adding an option raises
# this pin in the same change; fixing one lowers it.
SETTABLE_VALUES = 81


def test_settable_values_are_pinned():
    assert len(list(_options())) == SETTABLE_VALUES


# Underscore-prefixed names one package module imports from another,
# kept on purpose: "importer:source:name" → reason.
SHARED_PRIVATE = {
    "operators/linking:operators/textdedup:_bucket_candidate_pairs": "linking's distributed arm blocks with the dedup families' one blocking step",
    "operators/linking:operators/textdedup:_prefix_len": "linking's PPJoin prefix is the one exact prefix length",
    "operators/linking:operators/textdedup:_verified_pairs": "linking verifies with the one Jaccard verifier",
    "streaming/neardup:operators/textdedup:_bucket_candidate_pairs": "the streaming filter blocks its in-batch pairs with the one blocking step, over the sketches it already made",
    "streaming/neardup:operators/textdedup:_minhash_band_udf": "the streaming filter bands with the batch MinHash sketch",
    "streaming/neardup:operators/textdedup:_verified_pairs": "the streaming filter verifies with the one Jaccard verifier",
    "streaming/neardup:operators/textdedup:_with_hashed_shingles": "the streaming filter shingles as the batch families do",
    "functions/extract:functions/html_text:_decode": "fused extraction decodes page bytes as the text stage does",
    "operators/splits:operators/curation:_hash_hex8": "splits and sampling share one hash family",
}


def _private_imports() -> set[str]:
    """"importer:source:name" of every underscore-prefixed (not dunder)
    name a package module imports from another package module."""
    found = set()
    for path in sorted(PACKAGE.rglob("*.py")):
        mod = path.relative_to(PACKAGE).with_suffix("").as_posix()
        for n in ast.walk(ast.parse(path.read_text())):
            if not (isinstance(n, ast.ImportFrom) and n.module):
                continue
            if n.level:
                base = mod.split("/")[: -n.level]
                src = "/".join([*base, *n.module.split(".")])
            elif n.module.startswith(PACKAGE.name + "."):
                src = n.module[len(PACKAGE.name) + 1:].replace(".", "/")
            else:
                continue
            found |= {
                f"{mod}:{src}:{a.name}"
                for a in n.names
                if a.name.startswith("_") and not a.name.startswith("__") and src != mod
            }
    return found


def test_no_private_imports_across_modules():
    """A module's underscore-prefixed names are its own: another package
    module imports one only with a `SHARED_PRIVATE` entry, and every
    entry still names an import."""
    found = _private_imports()
    assert found <= set(SHARED_PRIVATE), sorted(found - set(SHARED_PRIVATE))
    assert set(SHARED_PRIVATE) <= found, sorted(set(SHARED_PRIVATE) - found)


def test_no_package_module_clears_the_session_cache():
    """`spark.catalog.clearCache()` drops every cached frame of the
    session, the caller's included; a package module releases only the
    frames it persisted itself (`unpersist`)."""
    calls = [
        f"{path.relative_to(PACKAGE).as_posix()}:{n.lineno}"
        for path in sorted(PACKAGE.rglob("*.py"))
        for n in ast.walk(ast.parse(path.read_text()))
        if isinstance(n, ast.Call)
        and isinstance(n.func, ast.Attribute)
        and n.func.attr == "clearCache"
    ]
    assert not calls, calls


def _called(call: ast.Call) -> str | None:
    """The called name, with `os.` kept for an `os.<attr>` call."""
    fn = call.func
    if isinstance(fn, ast.Attribute) and getattr(fn.value, "id", None) == "os":
        return f"os.{fn.attr}"
    return fn.id if isinstance(fn, ast.Name) else getattr(fn, "attr", None)


def test_only_the_store_swaps_files():
    """Every commit goes through `TripleStore.commit`: no package module
    but the store renames files into place or writes its atomic JSON,
    so a second commit protocol cannot grow back."""
    calls = [
        f"{path.relative_to(PACKAGE).as_posix()}:{n.lineno}"
        for path in sorted(PACKAGE.rglob("*.py"))
        if path != PACKAGE / "plans" / "store.py"
        for n in ast.walk(ast.parse(path.read_text()))
        if isinstance(n, ast.Call)
        and _called(n) in ("os.replace", "os.rename", "write_json_atomic")
    ]
    assert not calls, calls
