"""Physical-plan guard-rails: the scale claims each operator family makes,
asserted mechanically (SURVEY.md §4 / README "Scale posture")."""

from __future__ import annotations

from pyspark.sql import functions as F

from anofox_forecast_spark import plans as P
from anofox_forecast_spark.operators.dedup import minhash_lsh_pairs, simhash_pairs
from anofox_forecast_spark.operators.forecast import ts_forecast_by
from anofox_forecast_spark.operators.prep import ts_fill_gaps_by
from anofox_forecast_spark.sources import lineitem_panel, load_table
from tests.conftest import SF_DIR


def test_filter_pushdown_reaches_scan(spark):
    li = load_table(spark, SF_DIR, "lineitem").filter(F.col("l_suppkey") == 3) \
        .select("l_suppkey", "l_quantity")
    P.assert_filter_pushed(li, "l_suppkey")
    schemas = P.read_schemas(li)
    assert schemas and all("l_comment" not in s for s in schemas), \
        "column pruning failed: full row read for a 2-column projection"


def test_forecast_sql_path_shuffle_budget(spark):
    df = ts_forecast_by(lineitem_panel(spark, SF_DIR), "id", "ds", "y",
                        "SeasonalNaive", 7, "1d", {"seasonal_period": 7})
    # panel agg shuffle + series-key shuffle; anything more is regression
    P.assert_max_exchanges(df, 2)
    assert P.plan_report(df)["python_udf_nodes"] == 0, \
        "SQL fast path must not touch Python"


def test_forecast_udf_path_single_series_shuffle(spark):
    # SESOptimized: golden-section alpha search -> genuinely needs the
    # Python model library (plain SES moved to the pure-Catalyst fold
    # path in r10 — covered by the SQL-path guard below)
    df = ts_forecast_by(lineitem_panel(spark, SF_DIR), "id", "ds", "y",
                        "SESOptimized", 7, "1d", {})
    P.assert_max_exchanges(df, 2)
    assert P.plan_report(df)["python_udf_nodes"] == 1


def test_forecast_fold_models_stay_jvm_side(spark):
    """r10: the fixed-alpha fold models (SES, Croston classic/SBA, TSB)
    are pure Catalyst — one group shuffle, zero Python nodes."""
    pan = lineitem_panel(spark, SF_DIR)
    for model, params in [("SES", {"alpha": 0.3}), ("CrostonClassic", {}),
                          ("CrostonSBA", {}), ("TSB", {}),
                          ("Holt", {"alpha": 0.3, "beta": 0.1}),
                          ("SeasonalES", {"seasonal_period": 7,
                                          "alpha": 0.3})]:
        df = ts_forecast_by(pan, "id", "ds", "y", model, 7, "1d", params)
        P.assert_max_exchanges(df, 2)
        assert P.plan_report(df)["python_udf_nodes"] == 0, \
            f"{model} fold path must not touch Python"


def test_fill_gaps_no_extra_shuffle(spark):
    df = ts_fill_gaps_by(lineitem_panel(spark, SF_DIR), "id", "ds", "y", "1d")
    P.assert_max_exchanges(df, 2)
    P.assert_no_cartesian(df)


def test_dedup_never_cartesian(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(50)
    P.assert_no_cartesian(minhash_lsh_pairs(docs, "doc_id", "text",
                                            num_hashes=16, bands=4))
    P.assert_no_cartesian(simhash_pairs(docs, "doc_id", "text"))


def test_relational_operator_shuffle_budgets(spark):
    """Every relational family holds its shuffle budget — the claim that
    matters at 100 TB (each extra Exchange is a full re-shuffle of the
    data)."""
    from anofox_forecast_spark.functions.metrics import ts_mae_by
    from anofox_forecast_spark.operators.conformal import ts_conformal_by
    from anofox_forecast_spark.operators.cv import ts_cv_folds_by
    from anofox_forecast_spark.operators.hierarchy import ts_aggregate_hierarchy
    from anofox_forecast_spark.operators.stats import ts_stats_by

    panel = lineitem_panel(spark, SF_DIR)
    p2 = panel.withColumn("forecast", F.col("y") * 1.1) \
              .withColumnRenamed("y", "actual")

    # metrics: panel agg + one grouped aggregate
    P.assert_max_exchanges(ts_mae_by(p2, "ds", "actual", "forecast"), 2)
    # stats: panel agg; the batched stage's series placement over the
    # placed panel adds no exchange (1 today)
    P.assert_max_exchanges(ts_stats_by(panel, "id", "ds", "y", "1d"), 2)
    # hierarchy rollup: panel agg + one ROLLUP shuffle
    hp = panel.withColumn("k1", F.col("id").cast("string")) \
              .withColumn("k2", F.lit("x"))
    P.assert_max_exchanges(
        ts_aggregate_hierarchy(hp, ["k1", "k2"], "ds", "y"), 3)
    # cv folds: panel agg + series window + fold-spec join (same key)
    folds = ts_cv_folds_by(panel, "id", "ds", "y", 2, 7)
    P.assert_max_exchanges(folds, 4)
    P.assert_no_cartesian(folds)
    # conformal: panel agg + one grouped aggregate, no Python
    conf = ts_conformal_by(p2, "id", "actual", "forecast", "forecast",
                           {"alpha": 0.1})
    P.assert_max_exchanges(conf, 3)
    assert P.plan_report(conf)["python_udf_nodes"] == 0, \
        "conformal calibration must stay JVM-side"


def test_llm_ops_stay_jvm_side(spark):
    """Text analysis and similarity top-k are narrow JVM maps / aggregates —
    zero Python nodes, no shuffle for the maps."""
    from anofox_forecast_spark.operators.similarity import cosine_topk
    from anofox_forecast_spark.operators.text import text_quality
    docs = load_table(spark, SF_DIR, "documents")
    tq = text_quality(docs, "text")
    rep = P.plan_report(tq)
    assert rep["python_udf_nodes"] == 0
    assert rep["exchanges"] == 0, "text quality must pipeline with the scan"
    embs = load_table(spark, SF_DIR, "embeddings")
    q = [0.1] * len(embs.select("embedding").head(1)[0][0])
    topk = cosine_topk(embs, "vec_id", "embedding", q, k=5)
    assert P.plan_report(topk)["python_udf_nodes"] == 0, \
        "exact top-k must be zip_with/aggregate, not Python"


def _forbid_actions(monkeypatch):
    from pyspark.sql import DataFrame

    def boom(self, *a, **k):
        raise AssertionError("driver-side action during plan construction")

    for name in ("collect", "head", "take", "first", "toPandas", "count"):
        monkeypatch.setattr(DataFrame, name, boom)


def test_cv_split_folds_is_lazy(spark, monkeypatch):
    """Plan construction must trigger NO job: the old implementation ran
    agg(min).collect() (a full input scan) before the real query."""
    from anofox_forecast_spark.operators.cv import ts_cv_split_folds_by
    panel = lineitem_panel(spark, SF_DIR)
    _forbid_actions(monkeypatch)
    df = ts_cv_split_folds_by(panel, "id", "ds",
                              ["1997-06-30", "1997-12-31"], 7, "1d")
    assert "train_start" in df.columns


def test_split_keys_lazy_with_col_names(spark, monkeypatch):
    from anofox_forecast_spark.operators.hierarchy import (ts_combine_keys,
                                                           ts_split_keys)
    panel = lineitem_panel(spark, SF_DIR).withColumn(
        "uid", F.concat_ws("|", F.col("id"), F.lit("x")))
    _forbid_actions(monkeypatch)
    df = ts_split_keys(panel, "uid", "ds", "y", col_names=["k1", "k2"])
    assert df.columns[:2] == ["k1", "k2"]


def test_ngram_posting_list_cap_bounds_skew(spark):
    """One shingle shared by every doc must not make the self-join quadratic:
    with the document-frequency cap the hot shingle is dropped before the
    join, and distinct docs produce no false pairs."""
    from anofox_forecast_spark.operators.dedup import ngram_jaccard_pairs
    n_docs = 200
    rows = [(i, f"{i:06d}" + "zzz") for i in range(n_docs)]  # 'zzz'+ shared
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    out = ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3,
                              max_doc_freq=10)
    # every doc shares the 'zzz'-derived shingles; cap drops them, so no
    # pair can reach the threshold and the join stays linear
    assert out.count() == 0
    # cap high enough not to trigger → identical to the exact (uncapped) form
    near = spark.createDataFrame(
        [(1, "the quick brown fox jumps"), (2, "the quick brown fox jumped"),
         (3, "completely different text here")], ["doc_id", "text"])
    capped = ngram_jaccard_pairs(near, "doc_id", "text", n=3, threshold=0.5,
                                 max_doc_freq=1000).collect()
    exact = ngram_jaccard_pairs(near, "doc_id", "text", n=3, threshold=0.5,
                                max_doc_freq=None).collect()
    assert sorted(map(tuple, capped)) == sorted(map(tuple, exact))
    assert len(exact) == 1


def test_md5_dedup_modes_plan_shape(spark):
    """Portable-md5 modes keep the same scale shape as the fast path: bucket
    joins only (never cartesian), and the relational simhash md5 pipeline
    stays within its two aggregation shuffles + one self-join."""
    docs = load_table(spark, SF_DIR, "documents").limit(50)
    P.assert_no_cartesian(minhash_lsh_pairs(docs, "doc_id", "text",
                                            num_hashes=16, bands=4,
                                            hash_fn="md5"))
    df = simhash_pairs(docs, "doc_id", "text", hash_fn="md5")
    P.assert_no_cartesian(df)
    assert P.plan_report(df)["python_udf_nodes"] == 0, \
        "md5 simhash must stay JVM-side (relational explode/vote form)"


def test_knn_join_bucketed_not_cartesian(spark):
    from anofox_forecast_spark.operators.similarity import knn_join_lsh
    embs = load_table(spark, SF_DIR, "embeddings")
    left = embs.filter(F.col("vec_id") < 50)
    right = (embs.filter(F.col("vec_id") >= 50)
                 .withColumnRenamed("vec_id", "vec_id_b"))
    df = knn_join_lsh(left, right, "vec_id", "vec_id_b", "embedding", 3)
    P.assert_no_cartesian(df)
    assert P.plan_report(df)["python_udf_nodes"] == 0


def test_nonnull_panel_skips_interpolation_windows(spark):
    """Schema-driven interpolation skip: a non-nullable y column must plan
    strictly fewer Window nodes than a nullable one (the 7-column null
    repair pass disappears)."""
    from anofox_forecast_spark.operators.forecast import interpolate_nulls_df
    panel = lineitem_panel(spark, SF_DIR)
    assert not panel.schema["y"].nullable
    same = interpolate_nulls_df(panel, "id", "ds", "y")
    assert same is panel, "non-nullable input must short-circuit"
    nullable = panel.withColumn("y", F.expr("nullif(y, -987654321.0)"))
    assert nullable.schema["y"].nullable
    out = interpolate_nulls_df(nullable, "id", "ds", "y")
    assert out is not nullable


def test_regression_adapters_plan_shape(spark):
    """r6 adapters: the only shuffle is the (group, ds) join; per-fold
    cutoffs ride a broadcast, and nothing goes cartesian."""
    from anofox_forecast_spark.operators.cv import (
        ts_cv_split_by,
        ts_hydrate_features_by,
        ts_prepare_regression_input_by,
    )
    panel = lineitem_panel(spark, SF_DIR)
    cv = ts_cv_split_by(panel, "id", "ds", "y",
                        ["1998-01-01", "1999-01-01"], 7, "1d")
    src = panel.select("id", "ds", "y",
                       (F.dayofmonth("ds") % 7).cast("double").alias("x1"))
    hyd = ts_hydrate_features_by(cv, src, "id", "ds")
    rep = P.plan_report(hyd)
    # ts_cv_split_by's 2-row broadcast fold-spec crossJoin shows up as a
    # BroadcastNestedLoopJoin by design; a true cartesian is the bug.
    assert rep["cartesian_products"] == 0
    assert rep["python_udf_nodes"] == 0, "adapters must stay JVM-side"
    assert rep["broadcast_hash_joins"] >= 1, \
        "per-fold cutoffs must broadcast"
    prep = P.plan_report(ts_prepare_regression_input_by(cv, src, "id",
                                                        "ds", "y"))
    assert prep["cartesian_products"] == 0
    assert prep["python_udf_nodes"] == 0


def test_ols_fit_predict_plan_shape(spark):
    """r6 OLS: exact path = two bounded-array aggs + broadcast coef join;
    distributed path = one map-side-combined SUM agg, no arrays at all."""
    from anofox_forecast_spark.operators.regression import ols_fit_predict_by
    panel = lineitem_panel(spark, SF_DIR)
    df = panel.select(
        F.lit(1).alias("fold"), "id", "ds",
        F.col("y").alias("target"),
        (F.dayofmonth("ds") % 7).cast("double").alias("x1"))
    exact = ols_fit_predict_by(df, "fold", ["id", "ds"], "target", ["x1"])
    rep = P.plan_report(exact)
    assert rep["cartesian_products"] == 0
    assert rep["python_udf_nodes"] == 0
    # a literal fold key constant-folds the join condition, so the
    # broadcast shows up as an exchange (nested-loop on 1 row), not a
    # hash join — either way the coefficient side must broadcast
    assert rep["broadcast_exchanges"] >= 1, "coefficients must broadcast"
    dist = ols_fit_predict_by(df, "fold", ["id", "ds"], "target", ["x1"],
                              {"exact": False})
    rep2 = P.plan_report(dist)
    assert rep2["python_udf_nodes"] == 0
    assert rep2["broadcast_exchanges"] >= 1
    assert "collect_list" not in P.physical_plan(dist), \
        "distributed path must not materialize group arrays"


def test_r8_operator_shuffle_budgets(spark):
    """Constant exchange budgets for the r8 family — a regression here
    means a new shuffle crept into a plan (the budgets are constants,
    independent of data size)."""
    from anofox_forecast_spark.operators import pipeline as PL
    from anofox_forecast_spark.operators.stats import (
        hll_count_distinct,
        skew_report,
    )
    docs = spark.createDataFrame([(1, "a b c d e"), (2, "a b c d e f")],
                                 "doc_id bigint, text string")
    wdocs = docs.selectExpr("doc_id", "CAST(length(text) AS DOUBLE) AS w",
                            "CAST(doc_id % 2 AS STRING) AS src")
    budgets = [
        (PL.dup_spans(docs, "doc_id", "text", k=3), 3),
        (PL.dup_span_stats(docs, "doc_id", "text", k=3), 4),
        (PL.remove_dup_spans(docs, "doc_id", "text", k=3), 7),
        (PL.sample_weighted(wdocs, "doc_id", "w", 1, strata_col="src"), 1),
        (hll_count_distinct(docs, "text"), 2),
        (skew_report(docs, ["doc_id"]), 2),
    ]
    for df, budget in budgets:
        P.assert_max_exchanges(df, budget)
        rep = P.plan_report(df)
        assert rep["cartesian_products"] == 0
        assert rep["python_udf_nodes"] == 0


def _final_generates(df) -> list[list[str]]:
    """Output columns of each Generate node in ``df``'s executed plan.
    Runs ``df``: AQE's final plan — where a shared exchange reads as
    ReusedExchange instead of a second copy of its subtree — exists only
    after execution."""
    import re
    df.collect()
    final = P.physical_plan(df).split("== Initial Plan ==")[0]
    return [[c.split("#")[0] for c in cols.split(", ")]
            for cols in re.findall(r"^.*Generate .*, \[([^\]]*)\]$",
                                   final, re.M)]


def test_r9_operator_shuffle_budgets(spark):
    """r9 family plan guards: lm_score's only nested-loop join is the
    broadcast 1-ROW vocab crossJoin (bounded by construction);
    keep_first adds no exchange over drop-all; keep_best is the same
    single aggregate as exact_dup_groups."""
    from anofox_forecast_spark.operators import pipeline as PL
    from anofox_forecast_spark.operators.dedup import exact_dedup_keep_best
    docs = spark.createDataFrame(
        [(1, "a b c d e", 1.0), (2, "a b c d e f", 2.0)],
        "doc_id bigint, text string, score double")
    # keep_first: same exchange budget as the default policy (the argmin
    # rides the existing count aggregate)
    for kf in (False, True):
        df = PL.dup_spans(docs, "doc_id", "text", k=3, keep_first=kf)
        P.assert_max_exchanges(df, 3)
        rep = P.plan_report(df)
        assert rep["cartesian_products"] == 0
        assert rep["python_udf_nodes"] == 0
        # one explode of the corpus: both sides of the span self-join read
        # ONE exchange; a re-split shows as a second Generate
        assert _final_generates(df) == [["__p0", "__g"]]
    # lm_score: 9 exchanges in the no-broadcast regime, but only THREE
    # touch corpus-sized data (the (w1,w2) scoring join input, the per-doc
    # fold, and the id-only final-join projection) — the rest shuffle the
    # distinct-word / distinct-pair count tables. r14: the count tables
    # come from ONE shared explode+aggregate (corpus scanned once, not 3x)
    # whose null-safe join keys cost one extra COUNT-TABLE-sized exchange
    # when the planner does not broadcast them — the corpus-side budget
    # (the id-keyed assert below) is unchanged; zero Python
    df = PL.lm_score(docs, "doc_id", "text")
    P.assert_max_exchanges(df, 9)
    rep = P.plan_report(df)
    assert rep["cartesian_products"] == 0
    assert rep["python_udf_nodes"] == 0
    plan = P.physical_plan(df)
    import re
    corpus_keys = [m for m in re.findall(
        r"Exchange hashpartitioning\((\w+)", plan) if m.startswith("doc_id")]
    assert len(corpus_keys) <= 2, \
        f"corpus side crosses {len(corpus_keys)} id-keyed shuffles"
    # the three count tables share ONE explode of the corpus (__p); the
    # other Generate is the scoring side's positioned bigrams (__b)
    assert sorted(_final_generates(df)) == [["__b"], ["__p"]]
    # keep_best: ONE aggregate exchange, no windows
    df = exact_dedup_keep_best(docs, "doc_id", "text", "score")
    P.assert_max_exchanges(df, 1)
    rep = P.plan_report(df)
    assert rep["cartesian_products"] == 0
    assert rep["python_udf_nodes"] == 0


def test_r9b_operator_shuffle_budgets(spark):
    """r9b family plan guards: bloom_contains is a ZERO-exchange pure map
    (the filter rides the closure as a literal word array — no join, no
    shuffle, the physical point of a Bloom filter at 100 TB);
    bloom/cm registers are one count-style aggregate each; cm_estimate's
    only join is a broadcast against the bounded register table;
    bottomk_sample is one window exchange; pii_redact is a zero-exchange,
    zero-Python narrow map."""
    from anofox_forecast_spark.operators.stats import (
        bloom_contains, bloom_registers, bottomk_sample, cm_estimate,
        cm_registers, sampled_quantiles)
    from anofox_forecast_spark.operators.text import pii_redact
    docs = spark.createDataFrame(
        [(1, "a b c", "g1"), (2, "d e f", "g2")],
        "doc_id bigint, text string, grp string")
    keys = docs.selectExpr("doc_id", "CAST(doc_id AS STRING) AS key",
                           "grp")

    regs = bloom_registers(keys, "key", m_bits=64, k=2)
    P.assert_max_exchanges(regs, 1)
    probe = bloom_contains(keys, regs, "key", m_bits=64, k=2)
    P.assert_max_exchanges(probe, 0)           # pure map — no join at all
    rep = P.plan_report(probe)
    assert rep["cartesian_products"] == 0
    assert rep["python_udf_nodes"] == 0
    assert "Join" not in P.physical_plan(probe)

    cregs = cm_registers(keys, "key", width=8, depth=2)
    P.assert_max_exchanges(cregs, 1)
    est = cm_estimate(keys, cregs, "key", width=8, depth=2)
    plan = P.physical_plan(est)
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    rep = P.plan_report(est)
    assert rep["cartesian_products"] == 0
    assert rep["python_udf_nodes"] == 0

    samp = bottomk_sample(keys, "key", ["grp"], k=1)
    # two-phase min-k: the per-salt window + the per-group re-rank (so a
    # single giant group never funnels through one reducer)
    P.assert_max_exchanges(samp, 2)
    sq = sampled_quantiles(keys.withColumn("v", F.rand()), "key", "v",
                           ["grp"], k=1)
    P.assert_max_exchanges(sq, 3)              # 2 windows + aggregate

    red = pii_redact(docs, "text")
    P.assert_max_exchanges(red, 0)
    rep = P.plan_report(red)
    assert rep["python_udf_nodes"] == 0
