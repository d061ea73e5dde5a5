"""Corpus-composition operators: semantics on hand-computed fixtures."""

from __future__ import annotations

import math

from pyspark.sql import Row
from pyspark.sql import functions as F

from flink_kakfa_spark.functions.hashing import md5_uniform as _portable_uniform
from flink_kakfa_spark.operators.corpus import _mixture_rates


def _docs(spark, rows):
    return spark.createDataFrame(
        [Row(doc_id=i, text=t, lang=la, source=s, n_chars=len(t)) for i, (t, la, s) in enumerate(rows)],
        "doc_id long, text string, lang string, source string, n_chars long",
    )


def test_mixture_rates_temperature_half(spark):
    """9:1 source split at T=0.5 → sqrt weights 3:1 (0.75/0.25); budget
    is half the corpus (5 docs): A keeps 0.75*5/9, B caps at 1.0."""
    d = _docs(
        spark,
        [("x y", "en", "A")] * 9 + [("z w", "en", "B")],
    )
    rates = {r["source"]: r for r in _mixture_rates(d).collect()}
    assert rates["A"]["n_docs"] == 9 and rates["B"]["n_docs"] == 1
    assert math.isclose(rates["A"]["weight"], 0.75, rel_tol=1e-12)
    assert math.isclose(rates["B"]["weight"], 0.25, rel_tol=1e-12)
    assert math.isclose(rates["A"]["sample_rate"], 0.75 * 5 / 9, rel_tol=1e-12)
    assert rates["B"]["sample_rate"] == 1.0  # capped: take the tail whole


def test_portable_uniform_is_deterministic_and_uniform(spark):
    """Same ids → same draws across runs/plans; range stays in [0,1)."""
    ids = spark.range(1000).select(_portable_uniform(F.col("id")).alias("u"))
    a = sorted(r["u"] for r in ids.collect())
    b = sorted(r["u"] for r in ids.collect())
    assert a == b
    assert 0.0 <= a[0] and a[-1] < 1.0
    # crude uniformity: mean of 1000 draws within 5% of 0.5
    assert abs(sum(a) / len(a) - 0.5) < 0.05


def test_domain_filter_keeps_above_average_sources(spark, sf_dir):
    """Every kept doc's source average clears the corpus average, and at
    least one source is dropped (the fixture corpus is not uniform)."""
    from flink_kakfa_spark.registry import all_queries

    out = all_queries()["corpus_domain_filter"](spark, sf_dir)
    kept_sources = {r["source"] for r in out.select("source").distinct().collect()}
    from flink_kakfa_spark.sources.tables import load_table

    d = load_table(spark, "documents", sf_dir)
    all_sources = {r["source"] for r in d.select("source").distinct().collect()}
    assert kept_sources and kept_sources < all_sources


def test_centroid_purity_perfect_on_separated_clusters(spark):
    """Two well-separated labels → every vector returns to its own
    centroid: purity 1.0 for both."""
    from flink_kakfa_spark.operators import corpus as c

    rows = [
        Row(vec_id=i, embedding=[10.0 + (i % 3), 10.0], label=0) for i in range(5)
    ] + [
        Row(vec_id=10 + i, embedding=[-10.0 - (i % 3), -10.0], label=1)
        for i in range(5)
    ]
    e = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")

    # drive the registered query body against the constructed table by
    # monkeypatching load_table's lookup via a temp view path is
    # overkill — replicate the public shape through a tiny local run
    import flink_kakfa_spark.operators.corpus as mod

    orig = mod.load_table
    mod.load_table = lambda _s, _t, _d: e
    try:
        out = {r["label"]: r for r in mod.q_emb_centroid_purity(spark, "unused").collect()}
    finally:
        mod.load_table = orig
    assert out[0]["purity"] == 1.0 and out[1]["purity"] == 1.0
    assert out[0]["n_vecs"] == 5 and out[1]["n_pure"] == 5


def test_temperature_sample_respects_rates(spark, sf_dir):
    """Sampled per-source counts sit inside a 6-sigma Bernoulli band of
    n*rate, and a rerun returns the identical doc_id set."""
    from flink_kakfa_spark.registry import all_queries

    q = all_queries()["corpus_temperature_sample"]
    first = {r["doc_id"] for r in q(spark, sf_dir).collect()}
    again = {r["doc_id"] for r in q(spark, sf_dir).collect()}
    assert first == again

    from flink_kakfa_spark.sources.tables import load_table

    d = load_table(spark, "documents", sf_dir)
    rates = {r["source"]: r for r in _mixture_rates(d).collect()}
    got = {
        r["source"]: r["cnt"]
        for r in q(spark, sf_dir).groupBy("source").agg(F.count("*").alias("cnt")).collect()
    }
    for src, r in rates.items():
        n, p = r["n_docs"], r["sample_rate"]
        sigma = math.sqrt(n * p * (1 - p))
        assert abs(got.get(src, 0) - n * p) <= 6 * sigma + 1e-9, (src, got.get(src), n, p)


def test_dataset_card_shares_sum_to_100(spark, sf_dir):
    from flink_kakfa_spark.registry import all_queries
    from flink_kakfa_spark.sources.tables import load_table

    rows = all_queries()["corpus_dataset_card"](spark, sf_dir).collect()
    d = load_table(spark, "documents", sf_dir)
    assert sum(r["n_docs"] for r in rows) == d.count()
    assert abs(sum(r["pct_docs"] for r in rows) - 100.0) < 0.01 * len(rows)
    assert abs(sum(r["pct_chars"] for r in rows) - 100.0) < 0.01 * len(rows)
    for r in rows:
        assert r["total_tokens"] >= r["n_docs"]  # >=1 token per doc


def test_waterfill_caps_bind_and_surplus_reflows(spark, tmp_path):
    """One tiny source (caps immediately under the flattened share)
    and one large: the tiny assigns exactly its cap, the surplus
    re-flows to the large one, and the budget is never exceeded."""
    from pyspark.sql import Row

    docs = []
    did = 0
    for _ in range(2):  # tiny source: 2 docs x 10 tokens
        docs.append(Row(doc_id=did, text=" ".join(["w"] * 10), lang="en",
                        source="tiny", n_chars=10))
        did += 1
    for _ in range(40):  # large source: 40 docs x 10 tokens
        docs.append(Row(doc_id=did, text=" ".join(["w"] * 10), lang="en",
                        source="large", n_chars=10))
        did += 1
    spark.createDataFrame(docs).write.parquet(str(tmp_path / "documents.parquet"))
    from flink_kakfa_spark.registry import all_queries

    rows = {
        r["source"]: r
        for r in all_queries()["corpus_epoch_capped_budget"](
            spark, str(tmp_path)
        ).collect()
    }
    tiny, large = rows["tiny"], rows["large"]
    # flattened share of the 386-token budget would be ~93 tokens for
    # tiny (sqrt weighting) — far over its 19-token cap
    assert tiny["assigned_tokens"] == tiny["cap_tokens"]
    assert large["assigned_tokens"] > 0
    total_avail = tiny["avail_tokens"] + large["avail_tokens"]
    budget = total_avail * 92 // 100
    assigned = tiny["assigned_tokens"] + large["assigned_tokens"]
    assert assigned <= budget
    # surplus re-flowed: large ends above its naive first-round share
    import math

    w_t = math.floor(math.sqrt(tiny["avail_tokens"]) * 1000)
    w_l = math.floor(math.sqrt(large["avail_tokens"]) * 1000)
    first_round_large = budget * w_l // (w_t + w_l)
    assert large["assigned_tokens"] > first_round_large
    assert rows["large"]["epochs"] <= 0.95
