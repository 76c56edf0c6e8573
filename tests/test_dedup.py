"""Invariant tests for the dedup family (operators/dedup.py) and text
analysis (functions/textstats.py). Oracle value-equality is covered by
scripts/check_oracle.py / the driver gate; these tests pin the
semantic invariants that SQL equivalence alone can't express (recall
guarantees, hash stability, bounds).
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from fenix_spark.functions.textstats import lang_id, quality_score
from fenix_spark.operators.dedup import (
    exact_dedup_by_hash,
    jaccard,
    minhash_neardup_pairs,
    simhash_fingerprints,
    simhash_neardup_pairs,
    token_sets,
    winnow_fingerprints,
)


@pytest.fixture(scope="module")
def docs_with_dups(spark, documents):
    """documents plus exact copies of docs 0-4 (ids 100000+i) and a
    whitespace-variant copy of doc 0 (id 200000)."""
    base = documents.select("doc_id", "text")
    clones = (
        base.where(F.col("doc_id") < 5)
        .select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    )
    ws_variant = base.where(F.col("doc_id") == 0).select(
        F.lit(200000).alias("doc_id"),
        F.upper(F.concat(F.lit("  "), F.regexp_replace("text", " ", "   "))).alias("text"),
    )
    return base.unionByName(clones).unionByName(ws_variant)


def test_exact_dedup_collapses_normalized_variants(spark, docs_with_dups):
    out = exact_dedup_by_hash(docs_with_dups, "text", "doc_id").collect()
    n_docs = docs_with_dups.count()
    # 6 extra rows collapse onto 5 originals
    assert sum(r.dup_count for r in out) == n_docs
    by_kept = {r.kept_id: r.dup_count for r in out}
    assert by_kept[0] == 3  # original + exact clone + whitespace/case variant
    for i in range(1, 5):
        assert by_kept[i] == 2
    assert all(r.dup_count == 1 for r in out if r.kept_id >= 5)


def test_minhash_lsh_finds_planted_dups(spark, docs_with_dups):
    pairs = minhash_neardup_pairs(docs_with_dups, "text", "doc_id", threshold=0.99)
    got = {(r.id_l, r.id_r): r.jaccard for r in pairs.collect()}
    # planted exact clones are jaccard-1.0 pairs and MUST be recalled
    # (identical token sets → identical signatures → same buckets)
    for i in range(5):
        assert got.get((i, 100000 + i)) == 1.0
    assert got.get((0, 200000)) == 1.0  # normalization-invariant tokens
    assert all(j >= 0.99 for j in got.values())


def test_minhash_est_gate_work_not_results(spark, documents):
    """The opt-in signature-estimate pre-filter gates WORK, never
    results: on this corpus the gated ("auto" = threshold-0.25) output
    equals the ungated (default) output exactly; est_min=1.0 (only
    all-components-agreeing signatures survive) is a subset that still
    contains every identical-set pair (those bypass the gate via the
    intra arm)."""
    ungated = {
        (r.id_l, r.id_r, r.jaccard)
        for r in minhash_neardup_pairs(
            documents, "text", "doc_id", threshold=0.95
        ).collect()
    }
    gated = {
        (r.id_l, r.id_r, r.jaccard)
        for r in minhash_neardup_pairs(
            documents, "text", "doc_id", threshold=0.95, est_min="auto"
        ).collect()
    }
    assert gated == ungated
    strict = {
        (r.id_l, r.id_r, r.jaccard)
        for r in minhash_neardup_pairs(
            documents, "text", "doc_id", threshold=0.95, est_min=1.0
        ).collect()
    }
    assert strict <= gated
    exact_pairs = {t for t in ungated if t[2] == 1.0}
    assert exact_pairs and exact_pairs <= strict


def test_minhash_candidates_never_false_positive_after_verify(spark, documents):
    pairs = minhash_neardup_pairs(documents, "text", "doc_id", threshold=0.95)
    sets = token_sets(documents, "text", "doc_id")
    l = sets.select(F.col("id").alias("id_l"), F.col("s").alias("s_l"))
    r = sets.select(F.col("id").alias("id_r"), F.col("s").alias("s_r"))
    joined = (
        pairs.join(l, "id_l").join(r, "id_r")
        .select((F.round(jaccard("s_l", "s_r"), 6) == F.col("jaccard")).alias("ok"))
        .collect()
    )
    assert all(row.ok for row in joined)


def test_simhash_band_join_equals_bruteforce(spark, documents):
    """The pigeonhole band join must find EXACTLY the hamming≤3 pairs a
    brute-force |docs|² scan finds — recall is structural, not
    probabilistic."""
    via_bands = {
        (r.id_l, r.id_r, r.hamming)
        for r in simhash_neardup_pairs(documents, "text", "doc_id").collect()
    }
    fps = simhash_fingerprints(documents, "text", "doc_id")
    a = fps.select(F.col("id").alias("id_l"), F.col("sim").alias("sim_l"))
    b = fps.select(F.col("id").alias("id_r"), F.col("sim").alias("sim_r"))
    brute = {
        (r.id_l, r.id_r, r.hamming)
        for r in a.crossJoin(b)
        .where(F.col("id_l") < F.col("id_r"))
        .select("id_l", "id_r", F.expr("bit_count(sim_l ^ sim_r)").alias("hamming"))
        .where(F.col("hamming") <= 3)
        .collect()
    }
    assert via_bands == brute


def test_simhash_is_32bit_and_deterministic(spark, documents):
    fps1 = simhash_fingerprints(documents, "text", "doc_id").collect()
    fps2 = simhash_fingerprints(documents, "text", "doc_id").collect()
    assert sorted(fps1) == sorted(fps2)
    assert all(0 <= r.sim < 2**32 for r in fps1)


def test_winnow_shared_run_shares_fingerprint(spark):
    """Winnowing guarantee: documents sharing a run of window+shingle-1
    = 6 tokens share ≥1 fingerprint."""
    shared = "alpha beta gamma delta epsilon zeta"
    df = spark.createDataFrame(
        [
            (1, f"one two three {shared} four five"),
            (2, f"{shared} six seven eight nine ten"),
            (3, "completely different words entirely here now"),
        ],
        "doc_id bigint, text string",
    )
    fps = winnow_fingerprints(df, "text", "doc_id").collect()
    by_id = {}
    for r in fps:
        by_id.setdefault(r.id, set()).add(r.fp)
    assert by_id[1] & by_id[2]
    assert not (by_id[1] & by_id[3])


def test_quality_score_bounds_and_ordering(spark):
    df = spark.createDataFrame(
        [
            (1, "The quick brown fox jumps over the lazy dog and runs away."),
            (2, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( )))"),
        ],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r.q for r in df.select("doc_id", quality_score(F.col("text")).alias("q")).collect()}
    assert 0.0 <= rows[2] < rows[1] <= 1.0


def test_lang_id_picks_marker_language(spark):
    df = spark.createDataFrame(
        [
            (1, "the cat is on the mat and that dog is in a house"),
            (2, "el perro que corre en la casa y es un gato"),
            (3, "le chien est pour la maison et un chat"),
        ],
        "doc_id bigint, text string",
    )
    rows = {r.doc_id: r.lang for r in df.select("doc_id", lang_id(F.col("text")).alias("lang")).collect()}
    assert rows == {1: "en", 2: "es", 3: "fr"}


def test_incremental_neardup_equals_full_recompute(spark, documents):
    """Split the corpus into base + increment; the incremental path
    (persisted state probed by the increment) must produce EXACTLY the
    full-recompute pairs that touch the increment."""
    from fenix_spark.operators.dedup import (
        incremental_neardup_pairs,
        minhash_state,
    )

    docs = documents.limit(600).select("doc_id", "text")
    base = docs.where(F.col("doc_id") % 5 != 0)
    inc = docs.where(F.col("doc_id") % 5 == 0)
    inc_ids = {r.doc_id for r in inc.select("doc_id").collect()}
    assert inc_ids and base.count() > 0

    sets, bands = minhash_state(base, "text", "doc_id")
    got = {
        (r.id_l, r.id_r, r.jaccard)
        for r in incremental_neardup_pairs(
            inc, sets, bands, "text", "doc_id", threshold=0.8
        ).collect()
    }

    full = {
        (r.id_l, r.id_r, r.jaccard)
        # est_min=None: the persisted state carries band keys, not
        # signatures, so incremental equals the UNGATED batch path
        for r in minhash_neardup_pairs(
            docs, "text", "doc_id", threshold=0.8, est_min=None
        ).collect()
        if r.id_l in inc_ids or r.id_r in inc_ids
    }
    assert got == full
    assert got, "split must actually produce increment-touching pairs"


def test_incremental_neardup_new_vs_new_and_identical_docs(spark):
    """An increment doc identical to a corpus doc, plus two identical
    docs inside the increment, must all pair at jaccard 1."""
    from fenix_spark.operators.dedup import (
        incremental_neardup_pairs,
        minhash_state,
    )

    base = spark.createDataFrame(
        [(1, "alpha beta gamma delta"), (2, "totally different words here")],
        "doc_id bigint, text string",
    )
    inc = spark.createDataFrame(
        [
            (10, "alpha beta gamma delta"),
            (11, "alpha beta gamma delta"),
            (12, "unrelated content entirely"),
        ],
        "doc_id bigint, text string",
    )
    sets, bands = minhash_state(base, "text", "doc_id")
    got = {
        (r.id_l, r.id_r): r.jaccard
        for r in incremental_neardup_pairs(
            inc, sets, bands, "text", "doc_id", threshold=0.95
        ).collect()
    }
    assert got == {(1, 10): 1.0, (1, 11): 1.0, (10, 11): 1.0}


def test_dedup_eval_metrics(spark):
    from fenix_spark.operators.dedup import dedup_eval

    pred = spark.createDataFrame(
        [(1, 2), (3, 4), (6, 5)], "id_l bigint, id_r bigint"
    )
    truth = spark.createDataFrame(
        # (2,1) tests orientation canonicalization; (7,8) is missed
        [(2, 1), (5, 6), (7, 8)], "id_l bigint, id_r bigint"
    )
    m = dedup_eval(pred, truth)
    assert m["true_positives"] == 2
    assert abs(m["precision"] - 2 / 3) < 1e-12
    assert abs(m["recall"] - 2 / 3) < 1e-12
    assert abs(m["f1"] - 2 / 3) < 1e-12


def test_minhash_mega_bucket_cap_bounds_boilerplate_blowup(spark):
    """NEAR-identical boilerplate (one license header with a varying
    line on 30% of docs) lands one band bucket with 30% of rows. AQE's
    skew split CANNOT rescue that self-join task: skew detection is
    byte-based on compressed map output, and a bucket of identical
    band keys compresses to near nothing while its join output is
    |bucket|² (measured: the hot bucket read as median-sized even at a
    128-byte threshold). The scale mitigation is the max_group cap —
    mega-buckets are dropped BEFORE the join and the boilerplate mass
    routes to exact dedup; planted true pairs outside the hot bucket
    must all survive the cap."""
    from fenix_spark.operators.dedup import (
        lsh_candidates,
        minhash_signatures,
        token_sets,
    )

    hot = 360  # 30% of 1200 docs share the boilerplate band bucket
    boiler = "standard license header granted to use copy and distribute"
    rows = [(i, boiler) for i in range(hot)]
    # 10 planted near-dup pairs OUTSIDE the hot bucket (identical text
    # → identical sig → same small bucket of 2)
    for j in range(10):
        pair_text = f"planted duplicate pair {j} with shared content body"
        rows += [(10_000 + 2 * j, pair_text), (10_001 + 2 * j, pair_text)]
    rows += [
        (hot + i, f"unique document body {i} alpha{i % 7} beta{i % 11} gamma{i}")
        for i in range(820)
    ]
    docs = spark.createDataFrame(rows, "doc_id bigint, text string").repartition(16)
    signed = minhash_signatures(token_sets(docs, "text", "doc_id"))

    capped = lsh_candidates(signed, max_group=50).collect()
    # no candidate touches the hot bucket...
    assert all(r.id_l >= hot or r.id_r >= hot for r in capped)
    # ...but every planted non-boilerplate pair survives
    planted = {(10_000 + 2 * j, 10_001 + 2 * j) for j in range(10)}
    got = {(r.id_l, r.id_r) for r in capped}
    assert planted <= got
    # and the uncapped run pays the quadratic hot bucket the cap avoids
    n_uncapped = len(lsh_candidates(signed).collect())
    assert n_uncapped >= hot * (hot - 1) // 2 + len(planted)


def test_simhash_band_join_survives_boilerplate_skew(spark):
    """Same contract for the simhash pigeonhole band join: 30% of docs
    sharing one fingerprint concentrate 4 band buckets; the join must
    finish with the skew split (or broadcast) engaged, and recall stays
    exact — every hot pair is found at hamming 0."""
    from fenix_spark.operators.dedup import simhash_neardup_pairs

    tuned = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        # compressed-map-output sizes: near-identical hot rows compress
        # hard, so the local proxy threshold is tiny (cluster defaults,
        # 256MB, express the same contract on real data)
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "1KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512b",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
        # the band join feeds a distinct (downstream shuffle) — the
        # default OptimizeSkewedJoin refuses to split then; the
        # session forces it (session.py) and so does this test
        "spark.sql.adaptive.forceOptimizeSkewedJoin": "true",
        # a partition is skewed only if it exceeds BOTH the 1KB
        # threshold and 2x the median partition; the median shrinks as
        # B/N (B ~ 60KB of band rows here, N = shuffle width) while a
        # hot bucket adds only ~3KB, so the split can fire only when
        # N > B/3KB ~ 15-20 (measured: none at 4..20, fires at 24+).
        # Pin get_session's own default width so the proof does not
        # depend on the core count (SPARK_GRAFT_CPUS sets the width).
        "spark.sql.shuffle.partitions": "32",
    }
    prev = {k: spark.conf.get(k) for k in tuned}
    for k, v in tuned.items():
        spark.conf.set(k, v)
    try:
        hot = 300
        rows = [
            (i, "all rights reserved redistribution permitted with attribution")
            for i in range(hot)
        ] + [
            (hot + i, f"body {i} delta{i % 5} epsilon{i % 13} zeta{i}")
            for i in range(700)
        ]
        docs = spark.createDataFrame(rows, "doc_id bigint, text string").repartition(16)
        pairs = simhash_neardup_pairs(docs, "text", "doc_id")
        rows2 = pairs.collect()
        got = sum(1 for r in rows2 if r.hamming == 0)
        assert got >= hot * (hot - 1) // 2
        plan = pairs._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in plan
        assert "SortMergeJoin(skew=true)" in plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_fingerprints_retired_row_still_mirrors(spark):
    """The r13 rotation (#9) retired the `fingerprints` oracle row for
    triangle_counts; the retired row's FULL DuckDB mirror runs here
    verbatim so its coverage never lapses — simhash + winnow
    fingerprints per doc, row-identical across engines at sf0.001."""
    import duckdb

    from fenix_spark import suite

    sf_dir = "/root/testdata/sf0.001"
    got = sorted(
        (r["scheme"], r["id"], r["fp"])
        for r in suite._fingerprints(spark, sf_dir).collect()
    )
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf_dir}/documents.parquet')"
    )
    want = sorted(map(tuple, con.execute(suite._fingerprints_sql()).fetchall()))
    con.close()
    assert got == want and len(got) > 0


def _groups_width(spark):
    return max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )


def _groups_exchange_width(groups):
    plan = groups._jdf.queryExecution().executedPlan().initialPlan().toString()
    (width,) = re.findall(r"hashpartitioning\(s#\d+, (\d+)\)", plan)
    return int(width)


@pytest.mark.parametrize("shuffle_partitions", [1, 96])
def test_signed_set_groups_width_follows_shuffle_conf(spark, monkeypatch, shuffle_partitions):
    """The groups exchange takes ``spark.sql.shuffle.partitions`` (what
    ``session.recommend_confs`` sizes for large inputs) and never drops
    below ``defaultParallelism``."""
    import fenix_spark.operators.dedup as dedup_mod

    monkeypatch.setattr(dedup_mod, "_ckpt_eager", lambda df: df)
    sets = spark.createDataFrame([(1, [3, 5]), (2, [3, 5]), (3, [7])], "id bigint, s array<int>")
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(shuffle_partitions))
    try:
        groups = dedup_mod.signed_set_groups(sets, 4)
        want = _groups_width(spark)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert want == max(spark.sparkContext.defaultParallelism, shuffle_partitions)
    assert _groups_exchange_width(groups) == want
    assert sorted(r.ids for r in groups.collect()) == [[1, 2], [3]]


def test_minhash_groups_one_exchange_one_signature_pass(spark, documents, monkeypatch):
    """The groups materialization is one hash exchange on ``s`` (the
    configured shuffle width, never below the session's parallelism)
    feeding the grouping aggregate — no
    second shuffle — and it is the ONLY place the signature is
    computed: the pair plan reads it from the checkpoint."""
    import fenix_spark.operators.dedup as dedup_mod

    handed = []  # the frame handed to the groups checkpoint
    real = dedup_mod._ckpt_eager
    monkeypatch.setattr(dedup_mod, "_ckpt_eager", lambda df: handed.append(df) or real(df))
    pairs = minhash_neardup_pairs(documents, "text", "doc_id", threshold=0.9)
    (groups,) = handed
    adaptive = groups._jdf.queryExecution().executedPlan()
    lines = adaptive.initialPlan().toString().splitlines()
    exchanges = [ln for ln in lines if "Exchange" in ln]
    keyed_on_s = [ln for ln in exchanges if "hashpartitioning(s#" in ln]
    assert len(keyed_on_s) == 1, exchanges
    assert f", {_groups_width(spark)})" in keyed_on_s[0]
    agg = next(i for i, ln in enumerate(lines) if "Aggregate" in ln and "keys=[s#" in ln)
    first_exchange_below = next(ln for ln in lines[agg:] if "Exchange" in ln)
    assert first_exchange_below == keyed_on_s[0]

    # the signature is a result expression of the grouping aggregate
    groups_plan = groups._jdf.queryExecution().optimizedPlan().toString()
    pairs_plan = pairs._jdf.queryExecution().optimizedPlan().toString()
    assert groups_plan.count(" AS sig#") == 1
    assert " AS sig#" not in pairs_plan
    assert "array_min(transform" not in pairs_plan


def test_minhash_groups_stage_uses_every_core(spark, documents, monkeypatch):
    """The stage that materializes the groups (aggregate + signature)
    runs at least ``defaultParallelism`` tasks even on a corpus whose
    groups shuffle is far below AQE's coalescing size."""
    from fenix_spark.checkpoint import checkpoint_lazy
    from fenix_spark.operators.runstats import format_stats, run_with_stats

    import fenix_spark.operators.dedup as dedup_mod

    seen = {}

    def record(df):  # lazy, so the materialization runs under stats
        seen["ckpt"] = checkpoint_lazy(df)
        return seen["ckpt"]

    monkeypatch.setattr(dedup_mod, "_ckpt_eager", record)
    minhash_neardup_pairs(documents.limit(300), "text", "doc_id", threshold=0.9)
    _, stats = run_with_stats(seen["ckpt"], "count")
    readers = [s for s in stats if s.shuffle_read_bytes > 0 and s.shuffle_write_bytes > 0]
    assert readers, format_stats(stats)
    assert readers[0].tasks >= spark.sparkContext.defaultParallelism, format_stats(stats)
