"""Unit tests for operators/objectives.py (T5-style span corruption).
Oracle-level byte replay lives in test_entry_oracle.py."""

import pyspark.sql.functions as F

from datafusion_geo_spark.operators.objectives import span_corruption


def _run(spark, rows, **kw):
    df = spark.createDataFrame(rows, "doc_id long, text string")
    return {r["doc_id"]: r for r in span_corruption(df, **kw).collect()}


def test_roundtrip_reconstructs_document(spark):
    # inputs + targets must reconstruct the original: replacing each
    # sentinel in inputs by its target span yields the document
    rows = [(i, " ".join(f"w{i}_{j}" for j in range(30)))
            for i in range(20)]
    out = _run(spark, rows, density_permille=120)
    assert any(r["n_spans"] > 0 for r in out.values())
    for i, orig in rows:
        r = out[i]
        spans = {}
        cur = None
        for t in r["targets"].split():
            if t.startswith("<X_"):
                cur = t
                spans[cur] = []
            else:
                spans[cur].append(t)
        rebuilt = []
        for t in r["inputs"].split():
            if t.startswith("<X_"):
                rebuilt.extend(spans[t])
            else:
                rebuilt.append(t)
        assert " ".join(rebuilt) == orig, i


def test_zero_density_is_identity(spark):
    rows = [(1, "a b c d e f")]
    r = _run(spark, rows, density_permille=0)[1]
    assert r["inputs"] == "a b c d e f" and r["targets"] == ""
    assert r["n_spans"] == 0 and r["n_corrupt_tokens"] == 0


def test_deterministic_and_seed_sensitive(spark):
    rows = [(i, " ".join(f"t{j}" for j in range(40))) for i in range(10)]
    a = _run(spark, rows, density_permille=100, seed="s1")
    b = _run(spark, rows, density_permille=100, seed="s1")
    c = _run(spark, rows, density_permille=100, seed="s2")
    assert all(a[i] == b[i] for i in a)
    assert any(a[i]["inputs"] != c[i]["inputs"] for i in a)


def test_corruption_rate_tracks_density(spark):
    rows = [(i, " ".join(f"v{i}_{j}" for j in range(50)))
            for i in range(40)]
    lo = _run(spark, rows, density_permille=30)
    hi = _run(spark, rows, density_permille=150)
    rate = lambda o: (sum(r["n_corrupt_tokens"] for r in o.values())
                      / sum(r["n_words"] for r in o.values()))
    assert rate(lo) < rate(hi)
    # union-of-spans expectation: 1-(1-p)^3 within loose bounds
    assert 0.03 < rate(lo) < 0.20 and 0.25 < rate(hi) < 0.55


def test_mlm_split_and_labels(spark):
    from datafusion_geo_spark.operators.objectives import mlm_masking
    rows = [(i, " ".join(f"w{j}" for j in range(50))) for i in range(30)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in mlm_masking(df).collect()}
    tot_hit = sum(r["n_masked"] + r["n_replaced"] + r["n_kept"]
                  for r in out.values())
    tot = sum(r["n_words"] for r in out.values())
    assert 0.08 < tot_hit / tot < 0.25          # ~15% selection
    masked = sum(r["n_masked"] for r in out.values())
    assert masked / max(tot_hit, 1) > 0.6       # ~80% of hits -> [MASK]
    for i, orig in rows:
        r = out[i]
        toks = orig.split()
        got = r["masked"].split()
        assert len(got) == len(toks)
        labels = dict(p.split(":") for p in r["labels"].split()) \
            if r["labels"] else {}
        # every label records the true original token at that position
        for pos, t in labels.items():
            assert toks[int(pos)] == t
        # non-selected positions are untouched
        for j, (a, b) in enumerate(zip(toks, got)):
            if str(j) not in labels:
                assert a == b, (i, j)
