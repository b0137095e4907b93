"""Bucketing evidence for SCALE.md: a join between two tables bucketed on
the join key must plan with NO shuffle exchange — the co-located join that
makes repeated 100 TB joins affordable."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.fixtures import flat_rows


@pytest.fixture(scope="module")
def bucketed_tables(spark, tmp_path_factory):
    wh = tmp_path_factory.mktemp("warehouse")
    df = spark.createDataFrame(flat_rows())
    for name in ("b_flat_a", "b_flat_b"):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        (
            df.write.bucketBy(8, "instance_id", "write_table_id")
            .sortBy("instance_id", "write_table_id")
            .option("path", str(wh / name))
            .mode("overwrite")
            .saveAsTable(name)
        )
    return "b_flat_a", "b_flat_b"


def test_bucketed_join_has_no_shuffle(spark, bucketed_tables):
    a_name, b_name = bucketed_tables
    a = spark.table(a_name).groupBy("instance_id", "write_table_id").count()
    b = spark.table(b_name).groupBy("instance_id", "write_table_id").agg(
        F.max("arrival_timestamp").alias("last_ts")
    )
    joined = a.join(b, ["instance_id", "write_table_id"])
    plan = joined._jdf.queryExecution().executedPlan().toString()
    # bucketed scans satisfy the clustering of both aggregations and the
    # join — no shuffle exchange anywhere (a BroadcastExchange on the tiny
    # side is fine: broadcast moves k rows, not the corpus)
    assert "Exchange hashpartitioning" not in plan, plan
    assert "Bucketed: true" in plan


def test_unbucketed_join_does_shuffle(spark):
    """Control: the same join over plain frames needs exchanges."""
    df = spark.createDataFrame(flat_rows())
    a = df.groupBy("instance_id", "write_table_id").count()
    b = df.groupBy("instance_id", "write_table_id").agg(
        F.max("arrival_timestamp").alias("last_ts")
    )
    plan = (
        a.join(b, ["instance_id", "write_table_id"])
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Exchange hashpartitioning" in plan


def test_ivf_at_rest_partition_pruning(spark, sf_dir, tmp_path):
    """SCALE.md's ANN-at-rest claim, executed: store the corpus partitioned
    by IVF cell, and a probe of one cell must push the cell predicate into
    the scan's PartitionFilters — reading nprobe cells' files, never the
    corpus."""
    from data_engineering_project_utn_spark.llm import similarity as sim
    from data_engineering_project_utn_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    cents = sim.train_ivf_centroids(e, k=4, n_iter=0)
    cells = sim.ivf_cells(e, cents)
    path = str(tmp_path / "corpus_by_cell")
    cells.write.partitionBy("cell").parquet(path)

    at_rest = spark.read.parquet(path)
    target = cells.groupBy("cell").count().orderBy("cell").first()["cell"]
    probe = at_rest.filter(F.col("cell") == int(target))
    plan = probe._jdf.queryExecution().executedPlan().toString()
    scan = next(ln for ln in plan.splitlines() if "FileScan" in ln)
    assert "PartitionFilters" in scan and "cell" in scan.split("PartitionFilters", 1)[1]
    # pruned read returns exactly the in-memory cell's rows
    assert probe.count() == cells.filter(F.col("cell") == int(target)).count() > 0


def test_pca_grid_at_rest_partition_pruning(spark, sf_dir, tmp_path):
    """The PCA-grid twin of the IVF-at-rest layout (VERDICT r06 #6): the
    corpus partitioned by its 2-D principal-projection grid cell; a probe
    of the query's cell must push the cell predicate into the scan's
    PartitionFilters, and the driver-side ``pca_cell_of`` must agree with
    the executor-side assignment for every corpus vector (same
    exact-integer arithmetic on both sides)."""
    from data_engineering_project_utn_spark.llm import similarity as sim
    from data_engineering_project_utn_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    v1, v2 = sim.principal_directions(e, k=2, iters=2)
    cells, layout = sim.pca_cells(e, v1, v2, grid=3)
    path = str(tmp_path / "corpus_by_pca_cell")
    cells.write.partitionBy("cell").parquet(path)

    at_rest = spark.read.parquet(path)
    sample = cells.select("vec_id", "embedding", "cell").orderBy("vec_id").limit(20).collect()
    for r in sample:
        assert sim.pca_cell_of(list(r["embedding"]), v1, v2, layout) == r["cell"]
    target = int(sample[0]["cell"])
    probe = at_rest.filter(F.col("cell") == target)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    scan = next(ln for ln in plan.splitlines() if "FileScan" in ln)
    assert "PartitionFilters" in scan and "cell" in scan.split("PartitionFilters", 1)[1]
    assert probe.count() == cells.filter(F.col("cell") == target).count() > 0


def test_pca_balanced_grid_is_balanced_and_prunes(spark, sf_dir, tmp_path):
    """The equal-frequency PCA grid: per-axis STRIPES must hold N/grid
    rows (±1 — exact order-statistic boundaries), the driver-side
    ``pca_cell_of_balanced`` must agree with the executor-side
    assignment, and the at-rest layout must partition-prune like the
    equal-width twin."""
    from data_engineering_project_utn_spark.llm import similarity as sim
    from data_engineering_project_utn_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    v1, v2 = sim.principal_directions(e, k=2, iters=2)
    g = 4
    cells, layout = sim.pca_cells_balanced(e, v1, v2, grid=g)
    n = e.count()
    stripe1 = {
        int(r["s"]): r["count"]
        for r in cells.groupBy((F.col("cell") / g).cast("long").alias("s"))
        .count()
        .collect()
    }
    assert set(stripe1) == set(range(g))
    for cnt in stripe1.values():
        assert abs(cnt - n / g) <= g  # boundary-duplicate slack only

    sample = cells.select("vec_id", "embedding", "cell").orderBy("vec_id").limit(20).collect()
    for r in sample:
        assert (
            sim.pca_cell_of_balanced(list(r["embedding"]), v1, v2, layout)
            == r["cell"]
        )

    path = str(tmp_path / "corpus_by_pca_balanced")
    cells.write.partitionBy("cell").parquet(path)
    target = int(sample[0]["cell"])
    probe = spark.read.parquet(path).filter(F.col("cell") == target)
    plan = probe._jdf.queryExecution().executedPlan().toString()
    scan = next(ln for ln in plan.splitlines() if "FileScan" in ln)
    assert "PartitionFilters" in scan and "cell" in scan.split("PartitionFilters", 1)[1]


def test_span_index_bucketed_probe(spark, tmp_path_factory):
    """The at-rest n-gram index layout: bucketed on the n-gram key, a
    batch probe join reads the index WITHOUT an exchange above its scan —
    only the (small) incoming side shuffles.  This is what makes
    per-batch incremental span dedup affordable when the index is
    corpus-sized."""
    import pandas as pd

    from data_engineering_project_utn_spark.llm import spans as sn

    corpus = spark.createDataFrame(
        pd.DataFrame(
            {
                "doc_id": range(40),
                "text": [f"w{i} w{i+1} w{i+2} w{i+3} w{i+4} w{i+5}" for i in range(40)],
            }
        )
    )
    wh = tmp_path_factory.mktemp("span_wh")
    spark.sql("DROP TABLE IF EXISTS span_idx_at_rest")
    sn.write_span_index_bucketed(
        sn.ngram_count_index(corpus, n=5),
        "span_idx_at_rest",
        str(wh / "span_idx"),
        buckets=8,
    )
    idx = spark.table("span_idx_at_rest")

    incoming = spark.createDataFrame(
        pd.DataFrame({"doc_id": [100], "text": ["w3 w4 w5 w6 w7 w8"]})
    )
    spans = sn.incremental_span_frame(incoming, n=5, index=idx)
    plan = spans._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" in plan
    # exactly the incoming side's exchanges — the index scan itself must
    # not be followed by a hash exchange (bucketing satisfies the join)
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line and "span_idx" in line:
            raise AssertionError(f"index side shuffled: {line}")
    # and the probe still computes the right answer
    got = spans.collect()
    assert len(got) == 1 and got[0]["span_len"] == 6

    control = sn.incremental_span_frame(
        incoming, n=5, index=sn.ngram_count_index(corpus, n=5)
    )
    cplan = control._jdf.queryExecution().executedPlan().toString()
    assert "Bucketed: true" not in cplan


def test_q9_bucketed_fact_join_has_no_shuffle(spark, sf_dir):
    """VERDICT r10 #2: the Q9 orderkey join — the repo's one genuinely
    large exchange — disappears when lineitem and orders are bucketed at
    rest on orderkey: NO hash exchange above either scan, both scans
    bucketed, the join a SortMergeJoin (merge-hinted so test scale
    matches the 100 TB plan); the fully-composed gate keeps exactly ONE
    hash exchange — the model-size (nation, year) aggregate."""
    from data_engineering_project_utn_spark.plans import all_queries
    from data_engineering_project_utn_spark.plans.relational import _q9_join

    j = _q9_join(spark, sf_dir, bucketed=True)
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "Exchange hashpartitioning" not in plan, plan
    assert "SortMergeJoin" in plan
    assert plan.count("Bucketed: true") == 2, plan

    full = all_queries()["rl_product_type_profit_bucketed"].build(spark, sf_dir)
    fp = full._jdf.queryExecution().executedPlan().toString()
    assert fp.count("Exchange hashpartitioning") == 1, fp


def test_dedup_verify_joins_bucketed_corpus_no_corpus_exchange(spark, sf_dir):
    """VERDICT r11 #4: the at-rest answer to the SMJ-pinned dedup verify
    joins — with the shingle corpus bucketed+sorted on doc_id, BOTH
    exact-Jaccard verify sides are satisfied from disk: the plan keeps
    exactly the candidate-side exchanges (the (doc_a, doc_b) distinct +
    one join exchange per verify key) and loses the two corpus-side
    re-clusterings the unbucketed anchor pays; nothing corpus-scale is
    broadcast."""
    from data_engineering_project_utn_spark.plans import all_queries

    qs = all_queries()
    bkt = qs["llm_minhash_neardup_bucketed"].build(spark, sf_dir)
    plan = bkt._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Bucketed: true") >= 2, plan
    assert "BroadcastExchange" not in plan, plan
    assert "SortMergeJoin" in plan
    # corpus side never re-clusters: its bucketing IS the join clustering
    assert plan.count("Exchange hashpartitioning(doc_id") == 0, plan

    anchor = qs["llm_minhash_neardup"].build(spark, sf_dir)
    ap = anchor._jdf.queryExecution().executedPlan().toString()
    # r14: the verify payload attaches through ONE `_doc`-keyed join
    # (_attach_pair_payload) instead of two doc_a/doc_b joins, so the
    # corpus-side win now reads on the `_doc` key: the anchor exchanges
    # BOTH `_doc` sides (pair side + corpus payload re-cluster), the
    # bucketed twin only the pair side — the corpus scan's bucketing IS
    # its join clustering.  (<= ref - 1, not ==: the invariant is "the
    # corpus-side re-clustering is gone", not the anchor's exact exchange
    # census — exact parity coupled this test to Spark-version plan
    # shape, ADVICE r12.)
    got = plan.count("Exchange hashpartitioning(_doc")
    ref = ap.count("Exchange hashpartitioning(_doc")
    assert got <= ref - 1, (got, ref, plan)
    # pair-side census never grows past the anchor's
    for key in ("doc_a", "doc_b"):
        assert plan.count(f"Exchange hashpartitioning({key}") <= ap.count(
            f"Exchange hashpartitioning({key}"
        ), (key, plan)


@pytest.mark.parametrize(
    "name", ["llm_incremental_dedup_at_rest", "llm_incremental_editdist_at_rest"]
)
def test_incremental_band_index_probe_no_corpus_exchange(spark, sf_dir, name):
    """VERDICT r12 #1: with the corpus band frame AT REST (bucketed+sorted
    on (band_hash, band_idx)), the incremental probe's corpus side is
    satisfied from disk — the ONLY band-key exchange in the plan is the
    (batch-sized) probe side's, the corpus text verify sides never
    re-cluster on doc_id (doc_id-bucketed corpus, r11 layout), and any
    broadcast is a stat-accurate persisted frame, never a parquet-derived
    static estimate."""
    from data_engineering_project_utn_spark.plans import all_queries

    df = all_queries()[name].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Bucketed: true") >= 2, plan  # band index + corpus text
    assert "SortMergeJoin" in plan
    # exactly ONE band-key exchange: the batch side shuffling into the
    # index's bucketing — the corpus band scan itself must not re-shuffle
    assert plan.count("Exchange hashpartitioning(band_hash") == 1, plan
    # corpus text sides never re-cluster: doc_id bucketing IS the verify
    # join clustering
    assert plan.count("Exchange hashpartitioning(doc_id") == 0, plan
    # broadcast discipline: only stat-accurate (materialized) builds
    for i, ln in enumerate(plan.splitlines()):
        if "BroadcastExchange" in ln:
            tail = "\n".join(plan.splitlines()[i + 1 : i + 4])
            assert "InMemoryTableScan" in tail or "ExistingRDD" in tail, tail


def test_deduped_corpus_write_back_bucketed(spark, sf_dir):
    """VERDICT r12 #3, the production ending: the surviving corpus
    (unclustered docs + each ensemble cluster's canonical) written back
    as a bucketed table — the next nightly run's at-rest input.  Asserts
    the written table is bucketed on doc_id AND holds exactly the
    survivorship law's row set: corpus − (cluster members − canonicals),
    count = N − Σ n_members + #clusters."""
    from data_engineering_project_utn_spark.llm import dedup as dd
    from data_engineering_project_utn_spark.plans.llm_dedup_plans import (
        _dedup_corpus_bucketed,
        _ensemble_labels_from,
        _shared_dedup_sources,
    )
    from data_engineering_project_utn_spark.sources.io import write_bucketed_table

    mh, ed, sn = _shared_dedup_sources(spark, sf_dir, at_rest=True)
    bkt = _dedup_corpus_bucketed(spark, sf_dir)
    labels = _ensemble_labels_from(mh, ed, sn).localCheckpoint()
    golden = dd.golden_record(labels, bkt).localCheckpoint()
    surviving = dd.surviving_corpus(labels, golden, bkt)

    name = "deduped_corpus_bkt_test"
    spark.sql(f"DROP TABLE IF EXISTS `{name}`")
    out = write_bucketed_table(spark, surviving, name, 8, "doc_id")

    # (a) bucketed at rest: a self-keyed read plans a bucketed scan
    plan = (
        spark.table(name)
        .groupBy("doc_id")
        .count()
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Bucketed: true" in plan, plan

    # (b) exactly the survivorship row set
    n = bkt.count()
    g = golden.agg(
        F.sum("n_members").alias("m"), F.count(F.lit(1)).alias("c")
    ).first()
    assert out.count() == n - g["m"] + g["c"]
    written = {r["doc_id"] for r in out.select("doc_id").collect()}
    members = {r["doc_id"] for r in labels.select("doc_id").collect()}
    canonicals = {r["canonical_doc"] for r in golden.collect()}
    assert canonicals <= written
    assert not (members - canonicals) & written  # every non-canonical gone
    all_ids = {r["doc_id"] for r in bkt.select("doc_id").collect()}
    assert written == (all_ids - members) | canonicals
    spark.sql(f"DROP TABLE IF EXISTS `{name}`")


def test_snm_rank_index_probe_no_corpus_exchange(spark, sf_dir):
    """r13 follow-on: the at-rest SNM rank index — both probe joins
    (insertion count, neighbor pull) read the _blk-bucketed index with
    NO exchange above its scans; the verify corpus side reads the
    doc_id-bucketed text with NO exchange; the only exchanges key on
    batch-derived frames; no SinglePartition (the semi-join shape that
    invited Spark's runtime bloom filter was measured out)."""
    import re

    from data_engineering_project_utn_spark.plans import all_queries

    df = all_queries()["llm_incremental_snm_at_rest"].build(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan, plan
    assert plan.count("Bucketed: true") >= 3, plan  # idx ×2 reads + corpus text
    lines = plan.splitlines()

    def depth(ln):
        return len(re.match(r"^[\s:+|-]*", ln).group(0))

    # no exchange may sit between a join and an at-rest scan: walk up
    # from each index/corpus FileScan; the first shallower Exchange
    # ancestor must not exist before a join boundary
    for i, ln in enumerate(lines):
        if "FileScan" not in ln:
            continue
        # corpus-side scans only: the rank index, or the text table's
        # CORPUS split (NOT %3=0).  The batch side also reads the text
        # table (its %3=0 split) and legitimately range-exchanges
        # through its own ranking — that side is batch-sized.
        is_corpus = "dedup_snm_idx" in ln or (
            "dedup_corpus_bkt" in ln and "NOT ((doc_id" in ln
        )
        if not is_corpus:
            continue
        d = depth(ln)
        for j in range(i - 1, -1, -1):
            lj = lines[j]
            if not lj.strip() or depth(lj) >= d:
                continue
            if "Exchange" in lj and "Broadcast" not in lj:
                raise AssertionError(f"at-rest scan re-exchanged: {lj}\n{ln}")
            if "Join" in lj or "Exchange" in lj:
                break
            d = depth(lj)
