"""End-to-end golden-cluster tests (SURVEY.md §5.3/5.5): planted clusters →
F1 ≥ 0.99, resume semantics, skew armor."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from dig_entity_resolution_spark.plans.pipeline import STAGES, ERConfig, ERPipeline
from dig_entity_resolution_spark.synth import generate_corpus


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    d = tmp_path_factory.mktemp("corpus")
    return generate_corpus(
        str(d), n_clusters=20, cluster_size=3, n_singletons=80, seed=42
    )


def test_e2e_f1(spark, corpus, tmp_path):
    pages = spark.read.parquet(corpus["pages"])
    pipe = ERPipeline(spark, str(tmp_path / "wh"), "t1", ERConfig())
    clusters = pipe.run(pages)
    labels = spark.read.parquet(corpus["labels"])
    prf = pipe.evaluate(clusters, labels).collect()[0]
    assert prf.f1 >= 0.99, prf.asDict()
    # every page got exactly one cluster assignment
    assert clusters.count() == pages.count()
    assert clusters.select("record_id").distinct().count() == pages.count()
    # footer-stamped lineage agrees with the tables it describes
    counters = pipe.ckpt.counters()
    assert set(STAGES) <= set(counters)
    for stage, rows_out in counters.items():
        assert rows_out == pipe.ckpt.read(stage).count(), stage


def test_resume_identical_and_no_recompute(spark, corpus, tmp_path):
    pages = spark.read.parquet(corpus["pages"])
    wh = str(tmp_path / "wh")
    pipe = ERPipeline(spark, wh, "r", ERConfig())
    full = pipe.run(pages)
    full_rows = sorted((r.record_id, r.cluster_id) for r in full.collect())
    # simulate a crash after cand_pairs
    for s in ("scored_pairs", "edges", "clusters"):
        pipe.ckpt.invalidate(s)
    pipe2 = ERPipeline(spark, wh, "r", ERConfig())
    resumed = pipe2.run(pages, resume=True)
    assert pipe2.computed_stages == ["scored_pairs", "edges", "clusters"]
    assert sorted((r.record_id, r.cluster_id) for r in resumed.collect()) == full_rows


def test_incremental_run_equals_batch(spark, corpus, tmp_path):
    """Crawl-frontier ingestion: resolve batch A, then run_incremental(B)
    against it. The final clusters must equal a from-scratch batch run
    over A ∪ B — even though the split is by url hash, which scatters
    planted clusters across the two batches (new records must link to
    old cluster members). Also checks the cost contract: the incremental
    step scores only pairs absent from the base run."""
    pages = spark.read.parquet(corpus["pages"])
    wh = str(tmp_path / "whi")
    split = F.pmod(F.xxhash64("url"), F.lit(2)) == 0
    batch_a, batch_b = pages.filter(split), pages.filter(~split)

    full = ERPipeline(spark, wh, "full", ERConfig())
    expect = sorted(
        (r.record_id, r.cluster_id) for r in full.run(pages).collect()
    )

    base = ERPipeline(spark, wh, "base", ERConfig())
    base.run(batch_a)
    incr = ERPipeline(spark, wh, "incr", ERConfig())
    got = incr.run_incremental(batch_b, base_run_id="base")
    assert sorted((r.record_id, r.cluster_id) for r in got.collect()) == expect

    # cost contract: base decisions were reused, only new pairs scored
    n_base = base.ckpt.read("scored_pairs").count()
    n_incr = incr.ckpt.read("scored_pairs").count()
    n_full = full.ckpt.read("scored_pairs").count()
    assert n_incr > n_base  # something new was scored
    assert n_incr - n_base < n_full  # ...but far less than a full re-run
    # and the incremental warehouse is a complete base for the NEXT batch
    for s in ("records", "blocks_raw", "scored_pairs", "clusters"):
        assert incr.ckpt.is_complete(s)
    # F1 still perfect through the incremental path
    labels = spark.read.parquet(corpus["labels"])
    prf = incr.evaluate(got, labels).collect()[0]
    assert prf.f1 >= 0.99, prf.asDict()


def test_incremental_refuses_self_base(spark, corpus, tmp_path):
    """base tables are read lazily while new stages overwrite the same
    paths — same-run-id incremental would corrupt the base (r2 review)."""
    pages = spark.read.parquet(corpus["pages"])
    pipe = ERPipeline(spark, str(tmp_path / "whs"), "same", ERConfig())
    import pytest as _pytest

    with _pytest.raises(ValueError, match="different from"):
        pipe.run_incremental(pages, base_run_id="same")


def test_incremental_empty_batch_is_identity(spark, corpus, tmp_path):
    pages = spark.read.parquet(corpus["pages"])
    wh = str(tmp_path / "whe")
    base = ERPipeline(spark, wh, "base", ERConfig())
    expect = sorted(
        (r.record_id, r.cluster_id) for r in base.run(pages).collect()
    )
    incr = ERPipeline(spark, wh, "incr", ERConfig())
    got = incr.run_incremental(pages.filter(F.lit(False)), base_run_id="base")
    assert sorted((r.record_id, r.cluster_id) for r in got.collect()) == expect
    # nothing new was scored
    assert (
        incr.ckpt.read("scored_pairs").count()
        == base.ckpt.read("scored_pairs").count()
    )


def test_blocking_quality_metrics(spark, corpus, tmp_path):
    """Pair completeness must be 1.0 on the planted corpus (every true
    pair shares the cluster anchor token) while blocking prunes >90% of
    the quadratic pair space."""
    from dig_entity_resolution_spark.operators.evaluate import blocking_quality

    pages = spark.read.parquet(corpus["pages"])
    labels = spark.read.parquet(corpus["labels"])

    def quality(cfg, name):
        pipe = ERPipeline(spark, str(tmp_path / name), "q", cfg)
        pipe.run(pages)
        cand = pipe.ckpt.read("cand_pairs")
        records = pipe.ckpt.read("records").select("record_id", "url")
        l1 = records.select(F.col("url").alias("url1"), F.col("record_id").alias("id1"))
        l2 = records.select(F.col("url").alias("url2"), F.col("record_id").alias("id2"))
        id_labels = (
            labels.join(l1, "url1").join(l2, "url2").select("id1", "id2", "label")
        )
        return blocking_quality(cand, id_labels, records.count()).collect()[0]

    loose = quality(ERConfig(), "whq1")
    # this 140-doc fixture shares a tiny vocab, so default caps keep most
    # of the quadratic space (RR≈0.1 measured) — the interesting property
    # is the PC/RR TRADE: tighter caps must raise RR without losing PC
    # (cluster anchors are rare tokens; their blocks are far below 10)
    tight = quality(ERConfig(max_block_size=10, block_top_n=10), "whq2")
    assert loose.pair_completeness == 1.0, loose.asDict()
    assert tight.pair_completeness == 1.0, tight.asDict()
    assert tight.reduction_ratio > loose.reduction_ratio + 0.3, (
        loose.asDict(),
        tight.asDict(),
    )
    assert 0.0 < loose.reduction_ratio < 1.0


def test_recrawl_dedupe_keeps_latest(spark, corpus, tmp_path):
    """Recrawled urls (same url, several warc_ts) must collapse to ONE
    record — the latest snapshot — before blocking/eval; duplicate
    record_ids would duplicate scored pairs and inflate tp/fp/fn
    (ADVICE r1). Batch twin of the streaming recrawl dedupe."""
    pages = spark.read.parquet(corpus["pages"])
    # recrawl every page once with an older timestamp and different text —
    # the pipeline must keep the newer (original) snapshot
    old = pages.withColumn(
        "warc_ts", F.col("warc_ts") - F.expr("INTERVAL 10 DAYS")
    ).withColumn("text", F.concat(F.lit("STALE "), F.col("text")))
    recrawled = pages.unionByName(old)
    pipe = ERPipeline(spark, str(tmp_path / "wh3"), "rc", ERConfig())
    records = pipe.ckpt.write("_probe", pipe._records(recrawled))
    assert records.count() == pages.count()
    assert records.select("record_id").distinct().count() == pages.count()
    assert records.filter(F.col("text").startswith("STALE")).count() == 0


def test_byte_identity_invariant(spark, corpus):
    from dig_entity_resolution_spark.extract import extract_text_col

    pages = spark.read.parquet(corpus["pages"])
    assert pages.filter(extract_text_col("html") != F.col("text")).count() == 0


def test_skew_corpus_still_correct(spark, tmp_path):
    paths = generate_corpus(
        str(tmp_path / "skew"),
        n_clusters=10,
        cluster_size=3,
        n_singletons=60,
        seed=7,
        skew_token="hotword",
        skew_frac=0.3,
    )
    pages = spark.read.parquet(paths["pages"])
    pipe = ERPipeline(spark, str(tmp_path / "wh2"), "s", ERConfig())
    clusters = pipe.run(pages)
    labels = spark.read.parquet(paths["labels"])
    prf = pipe.evaluate(clusters, labels).collect()[0]
    assert prf.f1 >= 0.99, prf.asDict()


def test_generator_deterministic(tmp_path):
    import pyarrow.parquet as pq

    a = generate_corpus(str(tmp_path / "a"), n_clusters=5, n_singletons=10, seed=3)
    b = generate_corpus(str(tmp_path / "b"), n_clusters=5, n_singletons=10, seed=3)
    ta = pq.read_table(a["pages"]).to_pydict()
    tb = pq.read_table(b["pages"]).to_pydict()
    assert ta == tb


def test_incremental_candidate_generation_is_delta_only(spark, corpus, tmp_path):
    """VERDICT r2 item 1: the per-batch pair join must touch only blocks
    containing a new record, and every generated pair must touch a new
    record — no old-old pairs regenerated, no corpus-wide anti-join. The
    cand_pairs stage of an incremental run IS the delta, and the scored
    stage grows by exactly that many rows."""
    pages = spark.read.parquet(corpus["pages"])
    wh = str(tmp_path / "whd")
    split = F.pmod(F.xxhash64("url"), F.lit(2)) == 0
    base = ERPipeline(spark, wh, "base", ERConfig())
    base.run(pages.filter(split))
    old_ids = {r.record_id for r in base.ckpt.read("records").select("record_id").collect()}

    incr = ERPipeline(spark, wh, "incr", ERConfig())
    incr.run_incremental(pages.filter(~split), base_run_id="base")
    new_ids = {
        r.record_id
        for r in incr.ckpt.read("records").select("record_id").collect()
    } - old_ids
    delta_pairs = incr.ckpt.read("cand_pairs").collect()
    assert len(delta_pairs) > 0
    assert all(
        (r.id1 in new_ids) or (r.id2 in new_ids) for r in delta_pairs
    ), "an old-old pair was regenerated by the incremental batch"
    n_base = base.ckpt.read("scored_pairs").count()
    n_incr = incr.ckpt.read("scored_pairs").count()
    assert n_incr == n_base + len(delta_pairs)
    # the delta-keyed armor recompute (keep base rows for untouched keys,
    # re-armor only delta keys) must yield the SAME armored block table a
    # full recompute over the union would
    full_blocks = {
        (r.block_key, r.record_id, r.salt)
        for r in incr._blocks(incr.ckpt.read("blocks_raw")).collect()
    }
    incr_blocks = {
        (r.block_key, r.record_id, r.salt)
        for r in incr.ckpt.read("blocks").collect()
    }
    assert incr_blocks == full_blocks


def test_incremental_cc_warm_starts_from_base_clusters(spark, corpus, tmp_path):
    """VERDICT r2 item 2: the incremental clusters stage runs CC over the
    base run's star edges ∪ new match edges — the edges stage must contain
    every base star edge, and the closure converges in few rounds."""
    pages = spark.read.parquet(corpus["pages"])
    wh = str(tmp_path / "whw")
    split = F.pmod(F.xxhash64("url"), F.lit(2)) == 0
    base = ERPipeline(spark, wh, "base", ERConfig())
    base.run(pages.filter(split))
    incr = ERPipeline(spark, wh, "incr", ERConfig())
    incr.run_incremental(pages.filter(~split), base_run_id="base")
    star = {
        (r.cluster_id, r.record_id)
        for r in base.ckpt.read("clusters")
        .filter(F.col("cluster_id") != F.col("record_id"))
        .collect()
    }
    edges = {
        (r.src, r.dst) for r in incr.ckpt.read("edges").collect()
    }
    assert star <= edges, "base star edges missing from the warm-start input"
    assert incr.cc_stats["rounds"] >= 1


def test_incremental_latest_wins_recrawl_equals_batch(spark, corpus, tmp_path):
    """VERDICT r2 item 5: mode="latest_wins" must retract and rescore a
    url recrawled with a newer warc_ts, so the final clusters equal a
    from-scratch batch run with latest-warc_ts dedup — including a record
    MIGRATING OUT of its cluster when its new snapshot no longer matches."""
    pages = spark.read.parquet(corpus["pages"])
    labels = spark.read.parquet(corpus["labels"])
    wh = str(tmp_path / "whlw")

    victim = labels.filter(F.col("label")).select("url1").orderBy("url1").first().url1
    recrawl = (
        pages.filter(F.col("url") == victim)
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 30 DAYS"))
        .withColumn(
            "text", F.lit("xqzzyk unique replacement snapshot content tokens")
        )
    )

    # from-scratch reference over the union: _records keeps latest per url
    full = ERPipeline(spark, wh, "full", ERConfig())
    expect = sorted(
        (r.record_id, r.cluster_id)
        for r in full.run(pages.unionByName(recrawl)).collect()
    )

    base = ERPipeline(spark, wh, "base", ERConfig())
    base_clusters = {
        r.record_id: r.cluster_id for r in base.run(pages).collect()
    }
    vid = (
        base.ckpt.read("records").filter(F.col("url") == victim).first().record_id
    )
    # the victim was clustered with at least one partner in the base run
    assert (
        sum(1 for c in base_clusters.values() if c == base_clusters[vid]) > 1
    )

    incr = ERPipeline(spark, wh, "incr", ERConfig())
    got_df = incr.run_incremental(recrawl, base_run_id="base", mode="latest_wins")
    got_rows = got_df.collect()
    got = sorted((r.record_id, r.cluster_id) for r in got_rows)
    assert got == expect

    # the recrawled record migrated out: nobody else shares its cluster now
    incr_clusters = {r.record_id: r.cluster_id for r in got_rows}
    assert (
        sum(1 for c in incr_clusters.values() if c == incr_clusters[vid]) == 1
    )
    # retraction: no surviving match decision touches the replaced snapshot
    n_match = (
        incr.ckpt.read("scored_pairs")
        .filter(F.col("is_match") & ((F.col("id1") == vid) | (F.col("id2") == vid)))
        .count()
    )
    assert n_match == 0
    # the rescored record text in the records stage is the NEW snapshot
    assert (
        incr.ckpt.read("records").filter(F.col("record_id") == vid).first().text
    ).startswith("xqzzyk")


def test_incremental_append_only_drops_recrawls(spark, corpus, tmp_path):
    """Default mode keeps the base snapshot: a recrawl-only batch is a
    no-op for clusters."""
    pages = spark.read.parquet(corpus["pages"])
    wh = str(tmp_path / "whao")
    recrawl = (
        pages.limit(5)
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 30 DAYS"))
        .withColumn("text", F.lit("xqzzyk totally different text"))
    )
    base = ERPipeline(spark, wh, "base", ERConfig())
    expect = sorted(
        (r.record_id, r.cluster_id) for r in base.run(pages).collect()
    )
    incr = ERPipeline(spark, wh, "incr", ERConfig())
    got = sorted(
        (r.record_id, r.cluster_id)
        for r in incr.run_incremental(recrawl, base_run_id="base").collect()
    )
    assert got == expect


def test_e2e_128bit_ids(spark, corpus, tmp_path):
    """VERDICT r2 item 3 wiring: ERConfig(id_bits=128) carries a
    struct<hi,lo> record id through every stage (joins, least/greatest,
    CC min-aggregation, window caps are all id-type-agnostic). F1 and
    resume semantics must be unchanged."""
    pages = spark.read.parquet(corpus["pages"])
    labels = spark.read.parquet(corpus["labels"])
    cfg = ERConfig(id_bits=128, check_id_collisions=True)
    wh = str(tmp_path / "wh128")
    pipe = ERPipeline(spark, wh, "t", cfg)
    clusters = pipe.run(pages)
    assert clusters.schema["record_id"].dataType.typeName() == "struct"
    prf = pipe.evaluate(clusters, labels).collect()[0]
    assert prf.f1 >= 0.99, prf.asDict()
    expect = sorted(
        ((r.record_id.hi, r.record_id.lo), (r.cluster_id.hi, r.cluster_id.lo))
        for r in clusters.collect()
    )
    for s in ("edges", "clusters"):
        pipe.ckpt.invalidate(s)
    pipe2 = ERPipeline(spark, wh, "t", cfg)
    resumed = pipe2.run(pages, resume=True)
    assert pipe2.computed_stages == ["edges", "clusters"]
    got = sorted(
        ((r.record_id.hi, r.record_id.lo), (r.cluster_id.hi, r.cluster_id.lo))
        for r in resumed.collect()
    )
    assert got == expect


def test_id_collision_gate_fires(spark, tmp_path):
    """check_id_collisions=True fails fast when one id maps to two urls
    (the silent-merge failure 64-bit ids risk at 10^12 docs)."""
    from dig_entity_resolution_spark import schemas

    rows = [
        (7, "http://a", "x", "x", ["x"], "en", None),
        (7, "http://b", "y", "y", ["y"], "en", None),
    ]
    rec = spark.createDataFrame(rows, schemas.RECORDS)
    pipe = ERPipeline(
        spark, str(tmp_path / "whc"), "c", ERConfig(check_id_collisions=True)
    )
    with pytest.raises(RuntimeError, match="collision"):
        pipe._gate_records(rec)


def test_incremental_three_batch_chain_mixed_modes(spark, corpus, tmp_path):
    """Standing ingest, chained: batch A (full run) → batch B (append-only
    incremental) → batch C (latest-wins incremental carrying BOTH new urls
    and a recrawl of a batch-A url with newer ts + different text). Final
    clusters must equal the from-scratch batch run over everything with
    latest-warc_ts dedup — each incremental warehouse is a valid base for
    the next batch regardless of the mode used to produce it."""
    pages = spark.read.parquet(corpus["pages"])
    labels = spark.read.parquet(corpus["labels"])
    wh = str(tmp_path / "wh3b")
    part = F.pmod(F.xxhash64("url"), F.lit(3))
    a, b, c = (pages.filter(part == i) for i in range(3))
    victim = (
        labels.filter(F.col("label"))
        .join(a.select(F.col("url").alias("url1")), "url1", "left_semi")
        .select("url1").orderBy("url1").first()
    )
    assert victim is not None
    recrawl = (
        pages.filter(F.col("url") == victim.url1)
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 30 DAYS"))
        .withColumn("text", F.lit("xqzzyk chained replacement snapshot"))
    )
    c_full = c.unionByName(recrawl)

    full = ERPipeline(spark, wh, "full", ERConfig())
    expect = sorted(
        (r.record_id, r.cluster_id)
        for r in full.run(pages.unionByName(recrawl)).collect()
    )

    p_a = ERPipeline(spark, wh, "a", ERConfig())
    p_a.run(a)
    p_b = ERPipeline(spark, wh, "b", ERConfig())
    p_b.run_incremental(b, base_run_id="a")  # append-only
    p_c = ERPipeline(spark, wh, "c", ERConfig())
    got = sorted(
        (r.record_id, r.cluster_id)
        for r in p_c.run_incremental(
            c_full, base_run_id="b", mode="latest_wins"
        ).collect()
    )
    assert got == expect


def test_incremental_upgrades_pre_warc_ts_base(spark, corpus, tmp_path):
    """A base warehouse written before the records stage carried warc_ts
    must stay usable for resume AND as an incremental base (r3 review):
    readers shim a NULL warc_ts column, mirroring the checkpoint meta
    fallback."""
    pages = spark.read.parquet(corpus["pages"])
    wh = str(tmp_path / "whold")
    split = F.pmod(F.xxhash64("url"), F.lit(2)) == 0
    full = ERPipeline(spark, wh, "full", ERConfig())
    expect = sorted(
        (r.record_id, r.cluster_id) for r in full.run(pages).collect()
    )
    base = ERPipeline(spark, wh, "base", ERConfig())
    base.run(pages.filter(split))
    # rewrite the records stage in the pre-r3 (no warc_ts) layout
    old_rows = base.ckpt.read("records").drop("warc_ts").collect()
    base.ckpt.write("records", spark.createDataFrame(old_rows))
    # resume over the old layout passes the (upgraded) schema gate
    resumed = ERPipeline(spark, wh, "base", ERConfig())
    resumed.run(pages.filter(split), resume=True)
    assert resumed.computed_stages == []
    # and the old layout works as an incremental base
    incr = ERPipeline(spark, wh, "incr", ERConfig())
    got = sorted(
        (r.record_id, r.cluster_id)
        for r in incr.run_incremental(pages.filter(~split), "base").collect()
    )
    assert got == expect


def test_repeated_substring_preclean_destroys_er_signal(spark, tmp_path):
    """Composition HAZARD, pinned (r4): sub-document dedup excises text
    duplicated ACROSS documents — which for an ER corpus is exactly the
    shared entity text that blocking/scoring cluster on. Pre-cleaning ER
    input with repeated_substring_dedup must therefore tank recall
    (measured: F1 1.0 → <0.2), while the untouched pipeline stays at 1.0.
    The operator is a TRAINING-DATA op; this test documents that it is
    not an ER pre-clean and pins the measured interaction."""
    import pyspark.sql.functions as F

    from dig_entity_resolution_spark.operators.dedup import repeated_substring_dedup
    from dig_entity_resolution_spark.plans.pipeline import ERConfig, ERPipeline
    from dig_entity_resolution_spark.synth import generate_corpus

    paths = generate_corpus(
        str(tmp_path / "corpus"), n_clusters=12, cluster_size=4, n_singletons=40
    )
    pages = spark.read.parquet(paths["pages"])
    labels = spark.read.parquet(paths["labels"])

    base = ERPipeline(spark, str(tmp_path / "wh"), "base", ERConfig())
    assert base.evaluate(base.run(pages), labels).collect()[0].f1 == 1.0

    cleaned = repeated_substring_dedup(pages, "url", "text", min_len=8)
    # cluster members share >=8-token runs, so most pages lose text...
    assert cleaned.filter(F.col("n_removed_tokens") > 0).count() > 0
    repaired = pages.drop("text").join(
        cleaned.select(F.col("url"), F.col("cleaned_text").alias("text")), "url"
    )
    pre = ERPipeline(spark, str(tmp_path / "wh"), "pre", ERConfig())
    f1 = pre.evaluate(pre.run(repaired), labels).collect()[0].f1
    # ...and resolution collapses: the dedup removed the match signal
    assert f1 < 0.2


# -- sorted-neighborhood as a pipeline strategy (r5, VERDICT r4 item 5) ------

#: fixture-scale SN config: 1-char buckets (tiny corpus — see the
#: bucket-sizing note in sorted_neighborhood_pairs), forward + reversed
#: passes so a head-of-string perturbation still sorts adjacent
_SN_ONLY = dict(
    strategies=("sorted_neighborhood",), sn_window=4, sn_bucket_chars=1
)


def test_sn_only_e2e_f1(spark, corpus, tmp_path):
    """SN as the ONLY blocking strategy must still resolve the planted
    clusters perfectly: every cluster member is sort-adjacent to another
    member in at least one pass (forward anchors, reversed suffixes), and
    connected components closes the rest transitively."""
    pages = spark.read.parquet(corpus["pages"])
    pipe = ERPipeline(spark, str(tmp_path / "whsn"), "sn", ERConfig(**_SN_ONLY))
    clusters = pipe.run(pages)
    labels = spark.read.parquet(corpus["labels"])
    prf = pipe.evaluate(clusters, labels).collect()[0]
    assert prf.f1 >= 0.99, prf.asDict()
    assert clusters.count() == pages.count()


def test_sn_incremental_equals_batch(spark, corpus, tmp_path):
    """Append-only incremental with SN enabled equals the from-scratch
    batch run over the union — the delta form pairs only affected
    buckets, which is exact because insertions never shrink the sort
    distance between existing records."""
    pages = spark.read.parquet(corpus["pages"])
    wh = str(tmp_path / "whsni")
    split = F.pmod(F.xxhash64("url"), F.lit(2)) == 0
    batch_a, batch_b = pages.filter(split), pages.filter(~split)

    cfg = ERConfig(**_SN_ONLY)
    full = ERPipeline(spark, wh, "full", cfg)
    expect = sorted(
        (r.record_id, r.cluster_id) for r in full.run(pages).collect()
    )
    base = ERPipeline(spark, wh, "base", cfg)
    base.run(batch_a)
    incr = ERPipeline(spark, wh, "incr", cfg)
    got = incr.run_incremental(batch_b, base_run_id="base")
    assert sorted((r.record_id, r.cluster_id) for r in got.collect()) == expect
    # delta-proportional: the batch scored strictly fewer pairs than full
    assert (
        incr.ckpt.read("cand_pairs").count()
        < full.ckpt.read("cand_pairs").count()
    )
    labels = spark.read.parquet(corpus["labels"])
    assert incr.evaluate(got, labels).collect()[0].f1 >= 0.99


def test_sn_latest_wins_recrawl_equals_batch(spark, corpus, tmp_path):
    """latest_wins with SN: replacing a record moves its sort position,
    which can pull two OLD records into each other's window — the
    old-bucket recompute + restricted anti-join must recover exactly the
    from-scratch result."""
    pages = spark.read.parquet(corpus["pages"])
    labels = spark.read.parquet(corpus["labels"])
    wh = str(tmp_path / "whsnlw")
    cfg = ERConfig(**_SN_ONLY)

    victim = labels.filter(F.col("label")).select("url1").orderBy("url1").first().url1
    recrawl = (
        pages.filter(F.col("url") == victim)
        .withColumn("warc_ts", F.col("warc_ts") + F.expr("INTERVAL 30 DAYS"))
        .withColumn(
            "text", F.lit("xqzzyk unique replacement snapshot content tokens")
        )
    )
    full = ERPipeline(spark, wh, "full", cfg)
    expect = sorted(
        (r.record_id, r.cluster_id)
        for r in full.run(pages.unionByName(recrawl)).collect()
    )
    base = ERPipeline(spark, wh, "base", cfg)
    base.run(pages)
    incr = ERPipeline(spark, wh, "incr", cfg)
    got_df = incr.run_incremental(recrawl, base_run_id="base", mode="latest_wins")
    assert sorted((r.record_id, r.cluster_id) for r in got_df.collect()) == expect
