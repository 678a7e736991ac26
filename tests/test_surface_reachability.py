"""Every top-level def/class in ``datafusion_geo_spark/`` is reached
from the declared surface.

Library code that no declared query, SQL registration or tool reaches
should not exist. This pins that rule with a name-reference walk over
the AST (no Spark session, no imports of the code under test).

Walk roots:

* every library module's import-time code — module-level statements,
  plus the decorators, default values and base classes of its
  top-level definitions (this is where the SQL UDFs register);
* ``entry``, ``queries`` and ``oracle_sql`` of ``__spark_entry__`` and
  that module's own import-time code;
* ``bench.py``, ``perfbench/*.py`` and ``tools/*.py`` in full.

A definition is reached when a reached body mentions its name as a
name, an attribute, an imported alias, or a string constant that is
exactly the name (``__all__`` exports and getattr-by-name dispatch).
The walk is by name, not by module, so it can only over-approximate
reach; a miss is therefore real dead code. Anything kept on purpose
without a declared caller goes in ``KEPT`` with its reason, and is
walked as a root too.
"""

import ast
from pathlib import Path

ROOT = Path(__file__).resolve().parents[1]
PKG = ROOT / "datafusion_geo_spark"
ENTRY_ROOTS = ("entry", "queries", "oracle_sql")

#: kept without a declared caller: name -> why
KEPT = {
    "to_dialect": "dialect encoders; tests build every decoder's input "
                  "with them",
    "grid_join": "documented big x big spatial join (README)",
    "compact_rollup": "changelog compaction an operator runs every N "
                      "applied batches",
    "compact_stream_rollup": "changelog compaction of the streaming "
                             "rollup",
    "write_bucketed": "bucketed table writer, pinned exchange-free by "
                      "tests/test_bucketed_join.py",
    "bucketed_join": "bucketed equi-join, pinned exchange-free by "
                     "tests/test_bucketed_join.py",
    "hexagon_wkt": "cell polygon of a hexbin id, for rendering results",
    "hilbert_key": "scalar Hilbert key column; tests pin with_hilbert_key "
                   "against it",
    "read_wkt_csv": "CSV-with-WKT reader of the sources layer",
    "register_fixture_views": "fixture temp views for SQL-first use of "
                              "register_all",
    "sp_vocab_bpe": "SentencePiece vocab rows for an exported BPE model",
    "geoparquet_metadata": "public read of a GeoParquet dataset's geo "
                           "metadata (manifest, else first footer)",
    "transform_geometry": "per-geometry ST_Transform over the same "
                          "transformer; the kernel's batches are pinned "
                          "against it row by row",
}

_DEF = (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)


def _refs(node):
    out = set()
    for n in ast.walk(node):
        if isinstance(n, ast.Name):
            out.add(n.id)
        elif isinstance(n, ast.Attribute):
            out.add(n.attr)
        elif isinstance(n, ast.alias):
            out.add(n.name.rsplit(".", 1)[-1])
        elif (isinstance(n, ast.Constant) and isinstance(n.value, str)
              and n.value.isidentifier()):
            out.add(n.value)
    return out


def _import_time(st):
    """The parts of a top-level definition that run at import."""
    if isinstance(st, ast.ClassDef):
        return st.decorator_list + st.bases + st.keywords
    a = st.args
    return (st.decorator_list + a.defaults
            + [d for d in a.kw_defaults if d is not None])


def _model():
    """(library defs, defs by name, declared roots)."""
    lib, by_name, roots = [], {}, []
    for p in sorted(PKG.rglob("*.py")):
        mod = ".".join(p.relative_to(ROOT).with_suffix("").parts)
        for st in ast.parse(p.read_text(), str(p)).body:
            if isinstance(st, _DEF):
                lib.append((mod, st.name))
                by_name.setdefault(st.name, []).append(((mod, st.name), st))
                roots.extend(_import_time(st))
            else:
                roots.append(st)
    src = ROOT / "__spark_entry__.py"
    for st in ast.parse(src.read_text(), str(src)).body:
        if isinstance(st, _DEF):
            key = ("__spark_entry__", st.name)
            by_name.setdefault(st.name, []).append((key, st))
            if st.name in ENTRY_ROOTS:
                roots.append(st)
            else:
                roots.extend(_import_time(st))
        else:
            roots.append(st)
    for p in ([ROOT / "bench.py"] + sorted((ROOT / "perfbench").glob("*.py"))
              + sorted((ROOT / "tools").glob("*.py"))):
        roots.append(ast.parse(p.read_text(), str(p)))
    return lib, by_name, roots


def _reached(by_name, roots, names=()):
    seen, reached = set(), set()
    work = list(roots) + [ast.Constant(nm) for nm in names]
    while work:
        for nm in _refs(work.pop()) - seen:
            seen.add(nm)
            for key, node in by_name.get(nm, ()):
                reached.add(key)
                work.append(node)
    return reached


def test_every_library_definition_is_reached():
    lib, by_name, roots = _model()
    reached = _reached(by_name, roots, KEPT)
    dead = [f"{m}.{n}" for m, n in lib if (m, n) not in reached]
    assert not dead, (
        f"{len(dead)} definitions are reached by no declared query, "
        f"registration or tool — delete them, or add them to KEPT with "
        f"a reason: {dead}")


def test_kept_entries_are_needed():
    lib, by_name, roots = _model()
    names = {n for _, n in lib}
    reached = {n for _, n in _reached(by_name, roots)}
    missing = sorted(set(KEPT) - names)
    assert not missing, f"KEPT names no library definition: {missing}"
    stale = sorted(set(KEPT) & reached)
    assert not stale, (
        f"KEPT entries the declared surface already reaches — drop them "
        f"from KEPT: {stale}")
