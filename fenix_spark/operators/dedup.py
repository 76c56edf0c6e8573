"""Deduplication operators for LLM-pipeline data curation.

The reference engine has no dedup surface; these are the north-star
extensions (BASELINE.json) built Spark-first on the portable hashing
primitives in ``fenix_spark.functions.texthash`` so every operator is
DuckDB-oracle-checkable end to end.

Scale design (the part that matters at 100 TB):

- **Exact dedup** groups on a 60-bit hash of the normalized text, so
  the shuffle moves 8-byte keys, not document bodies.
- **MinHash LSH** is the classic shingle→signature→band pipeline: the
  only shuffle is the self-join on (band, band_key) — a low-cardinality
  equi-join; candidate verification touches |candidates| pairs, never
  |docs|². Bands are exploded rows (not columns), so band count scales
  without schema changes.
- **SimHash** near-dup uses the pigeonhole band trick: for hamming
  distance ≤ 3 on a 32-bit fingerprint, any pair agrees EXACTLY on at
  least one of 4 disjoint 8-bit bands, so the band equi-join has
  perfect recall (it is not probabilistic) and the bit_count(xor)
  verification makes precision exact too.
- **Winnowing** (Schleimer et al., SIGMOD'03) selects the min hash per
  sliding window of consecutive shingle hashes — a per-row array
  computation, embarrassingly parallel, no shuffle at all.
- **Embedding near-dup** reuses the BLAS-backed similarity join
  (operators/search.py): broadcast + GEMM + per-row top-k, no |L|·|R|
  materialization.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from fenix_spark.functions.texthash import (
    hash60,
    let,
    minhash_signature,
    simhash,
    tokens,
    word_shingles,
)
from fenix_spark.checkpoint import checkpoint_eager as _ckpt_eager
from fenix_spark.checkpoint import checkpoint_lazy as _ckpt_lazy


def spread(df: DataFrame) -> DataFrame:
    """Ensure compute parallelism ≥ cores for CPU-heavy per-row
    operators (tokenize+hash chains run ~ms/doc, interpreted).

    Small inputs often arrive as ONE parquet file = one task, seriali-
    zing the whole computation; shuffling ~300-byte rows to all cores
    is orders cheaper than single-threaded hashing. At real scale the
    input already has ≥ cores splits and this is a no-op.

    The probe uses ``inputFiles()`` (pure metadata) rather than
    ``df.rdd.getNumPartitions()``, which forces an RDD conversion +
    plan analysis per call. A many-files input is left untouched; a
    few-files (or non-file) input is repartitioned — for the only case
    that matters (one small file) that is exactly right, and for a few
    huge files the repartition it triggers is the parallelism win this
    helper exists for."""
    target = df.sparkSession.sparkContext.defaultParallelism
    files = df.inputFiles()
    if len(files) >= target:
        return df
    return df.repartition(target)


def normalized_text(c: Column) -> Column:
    """Whitespace-collapsed, lowercased text — the canonical form for
    exact dedup (so formatting-only variants collapse)."""
    return F.trim(F.regexp_replace(F.lower(c), r"\s+", " "))


def exact_dedup_by_hash(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact dedup on hash60(normalized text): keeps the lowest id per
    content hash. The shuffle key is the 8-byte hash — at 100 TB the
    groupBy moves ~16 bytes/row instead of whole documents."""
    return (
        df.select(F.col(id_col), hash60(normalized_text(F.col(text_col))).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("kept_id"), F.count(F.lit(1)).alias("dup_count"))
    )


def token_sets(df: DataFrame, text_col: str, id_col: str, shingle: int = 1) -> DataFrame:
    """(id, s) where s is the distinct shingle set of the document.
    ``shingle=1`` = unigram token sets (the right granularity for
    short/small-vocab corpora); >1 = word n-gram shingles."""
    toks = tokens(F.col(text_col))
    s = toks if shingle == 1 else word_shingles(toks, shingle)
    return spread(df).select(F.col(id_col).alias("id"), F.array_distinct(s).alias("s"))


def hashed_token_sets(
    df: DataFrame, text_col: str, id_col: str, shingle: int = 1
) -> DataFrame:
    """(id, s) with s = DISTINCT hash32 values of the shingles.

    The minhash pipeline needs the member hashes anyway (signature
    components are universal hashes of hash32); carrying ONLY the 4-byte
    hashes means the verify join intersects int arrays instead of
    string arrays and the shuffle never moves shingle text — at 100 TB
    that is the difference between shuffling documents and shuffling
    fingerprints. Exact Jaccard over hashed members equals Jaccard over
    members absent 32-bit collisions (~n²/2³³ per doc pair — negligible,
    and mirrored identically by the oracle)."""
    from fenix_spark.functions.texthash import hash32

    toks = tokens(F.col(text_col))
    s = toks if shingle == 1 else word_shingles(toks, shingle)
    return spread(df).select(
        F.col(id_col).alias("id"),
        # sorted → a SET has ONE canonical array form, so identical
        # sets group/compare by plain array equality
        F.array_sort(F.array_distinct(F.transform(s, hash32))).alias("s"),
    )


def minhash_signatures(sets: DataFrame, num_components: int = 24) -> DataFrame:
    """(id, s, sig) — sig[i] = min over members of the i-th universal
    hash of hash32(member): one md5 per member total, bit-identical
    across engines (texthash.py contract)."""
    return sets.select(
        "id", "s", minhash_signature(F.col("s"), num_components).alias("sig")
    )


def lsh_candidates(
    signed: DataFrame,
    bands: int = 3,
    rows_per_band: int = 8,
    carry: tuple[str, ...] = (),
    max_group: int | None = None,
    pair_where: Column | None = None,
    emit_carry: bool = True,
) -> DataFrame:
    """Distinct candidate pairs (id_l < id_r) agreeing on ≥1 band.
    ``carry`` columns of ``signed`` travel through the band join and
    come out as ``{col}_l`` / ``{col}_r`` (they must be functionally
    dependent on id, or the distinct dedups less than it should).

    ``pair_where`` is an optional predicate over the joined pair
    columns (``id_l``/``id_r``/``{carry}_l``/``{carry}_r``) applied
    BEFORE the distinct: deterministic pair filters (length bounds,
    signature-estimate gates) prune multi-band duplicates before the
    dedup pays for them, and with ``emit_carry=False`` the distinct
    then runs over bare (id_l, id_r) instead of rows widened by the
    carried columns — the filter-early shape for wide carries like
    signatures.

    ``max_group`` caps the band-bucket size: buckets with more members
    are DROPPED before the self-join. A boilerplate-heavy corpus (one
    license header on 30% of docs) puts one bucket's join output at
    |bucket|² pairs — and AQE's skew split cannot rescue that task,
    because skew detection is BYTE-based on compressed map output and
    a bucket of identical band keys compresses to almost nothing
    (measured: a 360-row hot bucket looks median-sized to AQE while
    emitting 65k join rows; see SCALE.md). Capped buckets are
    boilerplate by construction — handle that mass with exact dedup
    (O(n) groupBy) or a stop list; the cap trades recall ONLY on
    clusters whose pairwise verify would be quadratic anyway. None
    (default) keeps every bucket.

    Band geometry sets the selectivity knee at ~(1/b)^(1/r): pairs
    above it are near-certain candidates, pairs below are near-never.
    The 3×8 default puts the knee at 0.87 — matched to the 0.95
    near-dup threshold. (A loose 4×3 geometry has its knee at 0.63 and
    floods the verify stage with sub-threshold candidates: 3× more on
    the sf0.1 corpus.)

    Each band key is md5 of the band's concatenated components; the
    self-join is an equi-join on (band, key) — the ONLY shuffle in the
    LSH pipeline, and its key cardinality grows with data so it
    parallelizes. Duplicate pairs from multi-band agreement are
    collapsed map-side by the distinct's partial aggregation.
    """
    band_rows = signed.select(
        "id",
        *carry,
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        *[
                            F.element_at("sig", b * rows_per_band + r + 1)
                            for r in range(rows_per_band)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "key"),
    )
    if max_group is not None:
        sizes = band_rows.groupBy("band", "key").agg(
            F.count(F.lit(1)).alias("__n")
        )
        keep = sizes.where(F.col("__n") <= max_group).select("band", "key")
        band_rows = band_rows.join(keep, ["band", "key"])
    l = band_rows.select(
        F.col("id").alias("id_l"), *[F.col(c).alias(f"{c}_l") for c in carry], "band", "key"
    )
    r = band_rows.select(
        F.col("id").alias("id_r"), *[F.col(c).alias(f"{c}_r") for c in carry], "band", "key"
    )
    out_cols = (
        ["id_l", "id_r", *[f"{c}_l" for c in carry], *[f"{c}_r" for c in carry]]
        if emit_carry
        else ["id_l", "id_r"]
    )
    joined = l.join(r, ["band", "key"]).where(F.col("id_l") < F.col("id_r"))
    if pair_where is not None:
        joined = joined.where(pair_where)
    return joined.select(*out_cols).distinct()


def jaccard(s1: Column, s2: Column) -> Column:
    """Exact Jaccard of two distinct-element arrays."""
    inter = F.size(F.array_intersect(s1, s2))
    return inter / (F.size(s1) + F.size(s2) - inter)


def signed_set_groups(sets: DataFrame, num_components: int = 24) -> DataFrame:
    """(ids, s, sz, sig) per DISTINCT set of ``sets`` (id, s): the
    sorted member ids, the set, its size and its MinHash signature —
    materialized once (eager checkpoint).

    The frame feeds SIX consumers in :func:`minhash_neardup_pairs`
    (both band-join sides, both verify sides, both member-expansion
    sides, intra-group pairs). The size and signature columns live IN
    the checkpoint, so the interpreted per-set signature runs once per
    distinct set instead of once per band-join side.

    The explicit hash repartition on ``s`` is the exchange the grouping
    aggregate reuses (no second shuffle). Its partition count is
    ``spark.sql.shuffle.partitions`` but never below the session's
    parallelism: a count-less shuffle lets AQE coalesce the small
    groups shuffle into ONE task and serializes the signature pass
    onto one core, while the configured width is what keeps each task
    bounded on large inputs (this shuffle carries every document's
    token set; ``session.recommend_confs`` sizes it).

    The checkpoint is EAGER: the consumers' jobs start concurrently
    (broadcast builds), and with a lazy checkpoint each computes the
    groups; the first to finish truncates the lineage, GC drops its
    SQL metrics, and the others' tasks then report to accumulators
    that no longer exist ("Failed to update accumulator" ERRORs)."""
    from fenix_spark.functions.texthash import minhash_signature_hashed

    spark = sets.sparkSession
    width = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions")),
    )
    return (
        sets.repartition(width, "s")
        .groupBy("s")
        .agg(F.sort_array(F.collect_list("id")).alias("ids"))
        .select(
            "ids",
            "s",
            F.size("s").alias("sz"),
            minhash_signature_hashed("s", num_components).alias("sig"),
        )
        .transform(_ckpt_eager)
    )


def minhash_neardup_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.95,
    shingle: int = 1,
    num_components: int = 24,
    bands: int = 3,
    max_group: int | None = None,
    est_min: float | str | None = None,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, exact-Jaccard verified.

    shingle → minhash → band → bucket-join → verify: candidates come
    from the LSH band join; each candidate pair is then verified with
    the EXACT Jaccard of the (hashed) shingle sets, so false positives
    are eliminated and the output is deterministic (band hashing is
    md5-based, identical across engines and runs). The length filter
    and (when enabled) the estimate gate run BEFORE the candidate
    distinct, so multi-band duplicate pairs are pruned before the
    dedup pays for them and the distinct shuffles bare id pairs.

    ``est_min`` is an OPT-IN signature-estimate pre-filter for
    boilerplate-heavy corpora: the fraction of agreeing signature
    components is an unbiased Jaccard estimate computed from integers
    already in hand, so candidates whose estimate falls below
    ``est_min`` are dropped before the verify join ships the (much
    wider) member arrays. Like the band join itself, the gate is a
    DETERMINISTIC pure function of the md5-based signatures —
    identical across engines and runs — and it gates WORK, never
    values: every emitted pair still carries its exact Jaccard. Recall
    impact is the banding story's tail: a true pair at J = threshold
    has P(estimate < threshold − 0.25) ≈ Binomial(num_components, J)
    lower-tail mass, ~1e-7 at 24 components / 0.95. ``"auto"`` =
    max(0, threshold − 0.25); ``None``/0 (default) disables the gate.
    MEASURED guidance (SCALE.md): enable it only when the candidate
    stream is dominated by sub-knee junk (boilerplate at J ≈ 0.5–0.8
    sneaking past the band knee) — on a clean corpus the gate prunes
    ~1% of candidates while the carried signatures widen the band join,
    a net loss (sf0.1 A/B: 4.27 s gated vs 2.97 s ungated, same rows);
    on a boilerplate corpus the pruned verify mass dominates.

    The whole pipeline runs on ``hashed_token_sets``: shingle text is
    md5'd once at tokenize time and only 4-byte hashes flow through
    the band join and the verify intersect.
    """
    sets = hashed_token_sets(df, text_col, id_col, shingle)

    # Group identical sets FIRST: signatures/bands/jaccard depend only
    # on the set, so LSH runs once per DISTINCT set and member pairs
    # expand afterwards — result-identical to banding every doc, but a
    # group of m exact-duplicate docs costs 1 LSH row instead of m and
    # removes m² candidate pairs from the verify join. On crawl-scale
    # corpora (30-50% exact dups) that is the dominant term.
    groups = signed_set_groups(sets, num_components)
    signed = groups.select(F.element_at("ids", 1).alias("id"), "s", "sz", "sig")
    # Length filter (classic lossless prefix-family bound, e.g. Arasu
    # et al. / ppjoin): J(A,B) = |A∩B|/|A∪B| ≤ min(|A|,|B|)/max(|A|,|B|),
    # so candidate pairs whose set sizes differ by more than the
    # threshold ratio CANNOT verify — drop them before shipping the
    # (much wider) member arrays into the verify join. The 1e-6 slack
    # covers the round(J, 6) ≥ threshold acceptance rule: round-up by
    # at most 5e-7 means raw J ≥ threshold − 5e-7 must survive.
    # max_group applies AFTER identical-set grouping, so it only bites
    # on NEAR-identical boilerplate clusters (byte-identical docs
    # collapse to one LSH row above and never inflate a bucket)
    if est_min == "auto":
        est_min = max(0.0, threshold - 0.25)
    length_ok = F.least("sz_l", "sz_r") >= (threshold - 1e-6) * F.greatest(
        "sz_l", "sz_r"
    )
    if est_min:
        # signature-estimate gate (docstring): agreement fraction of
        # the two signatures — integers already riding the band join —
        # drops sub-knee candidates before the wide-array verify join.
        # The cutoff is resolved to an INTEGER component count driver-
        # side so both engines compare integers (no float-literal
        # rendering to coordinate). With the gate ON, BOTH filters run
        # PRE-distinct via pair_where: the gate is selective (that is
        # why it was enabled), so pruning before the distinct shrinks
        # it, and the carried signatures never reach the distinct's
        # shuffle (emit_carry=False).
        import math

        cut = int(math.ceil(est_min * num_components - 1e-9))
        agree = F.aggregate(
            F.zip_with(
                "sig_l", "sig_r", lambda a, b: (a == b).cast("int")
            ),
            F.lit(0),
            lambda acc, x: acc + x,
        )
        cand = lsh_candidates(
            signed,
            bands,
            num_components // bands,
            carry=("sz", "sig"),
            max_group=max_group,
            pair_where=length_ok & (agree >= F.lit(cut)),
            emit_carry=False,
        )
    else:
        # ungated default: the length filter runs POST-distinct —
        # measured (r9 A/B at sf0.1, load 1.0, min-of-3): 2.55 s vs
        # 2.80 s pre-distinct, because on length-homogeneous corpora
        # the filter prunes little while pre-distinct re-evaluates it
        # on every multi-band duplicate pair. Pre-distinct placement
        # pays off only for SELECTIVE pair predicates (the est gate).
        cand = (
            lsh_candidates(
                signed,
                bands,
                num_components // bands,
                carry=("sz",),
                max_group=max_group,
            )
            .where(length_ok)
            .select("id_l", "id_r")
        )
    l = signed.select(F.col("id").alias("id_l"), F.col("s").alias("s_l"))
    r = signed.select(F.col("id").alias("id_r"), F.col("s").alias("s_r"))
    rep_pairs = (
        cand.join(l, "id_l")
        .join(r, "id_r")
        .withColumn("jaccard", F.round(jaccard(F.col("s_l"), F.col("s_r")), 6))
        .where(F.col("jaccard") >= threshold)
        .select("id_l", "id_r", "jaccard")
    )

    members = groups.select(F.element_at("ids", 1).alias("rid"), "ids")
    cross = (
        rep_pairs.join(members.withColumnRenamed("ids", "ids_l"), rep_pairs.id_l == members.rid)
        .drop("rid")
        .join(members.withColumnRenamed("ids", "ids_r"), rep_pairs.id_r == members.rid)
        .select("jaccard", F.explode("ids_l").alias("a"), "ids_r")
        .select("jaccard", "a", F.explode("ids_r").alias("b"))
        .select(
            F.least("a", "b").alias("id_l"),
            F.greatest("a", "b").alias("id_r"),
            "jaccard",
        )
    )
    intra = (
        groups.where(F.size("ids") > 1)
        .select(F.explode("ids").alias("a"), "ids")
        .select("a", F.explode("ids").alias("b"))
        .where(F.col("a") < F.col("b"))
        .select(
            F.col("a").alias("id_l"),
            F.col("b").alias("id_r"),
            F.round(F.lit(1.0), 6).alias("jaccard"),
        )
    )
    if threshold > 1.0:
        return cross  # identical sets (jaccard 1.0) excluded by contract
    return cross.unionByName(intra)


def minhash_state(
    df: DataFrame,
    text_col: str,
    id_col: str,
    shingle: int = 1,
    num_components: int = 24,
    bands: int = 3,
) -> tuple[DataFrame, DataFrame]:
    """The persistable dedup-index state for INCREMENTAL near-dup:
    ``(sets, band_rows)`` where sets = (id, s, sz) and band_rows =
    (id, sz, band, key). Write both through the catalog once; each
    increment then joins against them instead of re-banding the corpus
    (``incremental_neardup_pairs``). Band geometry must match between
    state builds and increments — it is data, not configuration."""
    from fenix_spark.functions.texthash import minhash_signature_hashed

    sets = hashed_token_sets(df, text_col, id_col, shingle).withColumn(
        "sz", F.size("s")
    )
    signed = sets.select(
        "id", "sz", minhash_signature_hashed("s", num_components).alias("sig")
    )
    rows_per_band = num_components // bands
    band_rows = signed.select(
        "id",
        "sz",
        F.posexplode(
            F.array(
                *[
                    F.concat_ws(
                        "|",
                        *[
                            F.element_at("sig", b * rows_per_band + r + 1)
                            for r in range(rows_per_band)
                        ],
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "key"),
    )
    return sets, band_rows


def incremental_neardup_pairs(
    new_docs: DataFrame,
    corpus_sets: DataFrame,
    corpus_bands: DataFrame,
    text_col: str,
    id_col: str,
    threshold: float = 0.95,
    shingle: int = 1,
    num_components: int = 24,
    bands: int = 3,
) -> DataFrame:
    """Near-dup pairs TOUCHING the increment: (new × corpus) ∪
    (new × new), exact-Jaccard verified — without re-banding the
    corpus.

    Scale shape: the increment's band rows PROBE the persisted corpus
    band table on (band, key) — increment ≪ corpus, so the probe side
    broadcasts or shuffles only increment-sized data; corpus text is
    never touched (the verify join reads the persisted hashed sets of
    candidate ids only). Equivalent to the full recompute
    (``est_min=None`` — the persisted state carries band keys, not
    signatures, so the batch path's signature-estimate gate does not
    apply here) restricted to increment-touching pairs (tested); every
    emitted pair is exact-verified either way. Ids must be disjoint between
    corpus and increment (the caller's contract; same id = same doc).
    """
    new_sets, new_bands = minhash_state(
        new_docs, text_col, id_col, shingle, num_components, bands
    )
    new_sets = new_sets.transform(_ckpt_lazy)
    new_bands = new_bands.transform(_ckpt_lazy)
    return incremental_pairs_from_state(
        new_sets, new_bands, corpus_sets, corpus_bands, threshold
    )


def incremental_pairs_from_state(
    new_sets: DataFrame,
    new_bands: DataFrame,
    corpus_sets: DataFrame,
    corpus_bands: DataFrame,
    threshold: float = 0.95,
) -> DataFrame:
    """``incremental_neardup_pairs`` with the increment's state already
    built (e.g. by a streaming foreachBatch that also persists it)."""
    all_bands = corpus_bands.unionByName(new_bands)
    probe = new_bands.select(
        F.col("id").alias("id_l"), F.col("sz").alias("sz_l"), "band", "key"
    )
    build = all_bands.select(
        F.col("id").alias("id_r"), F.col("sz").alias("sz_r"), "band", "key"
    )
    new_ids = new_bands.select("id").distinct()
    cand = (
        probe.join(build, ["band", "key"])
        .where(F.col("id_l") != F.col("id_r"))
        # canonicalize new×new both-direction matches; new×corpus pairs
        # match in one direction only (corpus rows never probe)
        .withColumn(
            "keep",
            F.col("id_l") < F.col("id_r"),
        )
        .join(
            new_ids.withColumnRenamed("id", "id_r").withColumn("r_new", F.lit(True)),
            "id_r",
            "left",
        )
        .where(F.col("keep") | F.col("r_new").isNull())
        .where(
            F.least("sz_l", "sz_r")
            >= (threshold - 1e-6) * F.greatest("sz_l", "sz_r")
        )
        .select("id_l", "id_r")
        .distinct()
    )
    all_sets = corpus_sets.unionByName(new_sets)
    l = new_sets.select(F.col("id").alias("id_l"), F.col("s").alias("s_l"))
    r = all_sets.select(F.col("id").alias("id_r"), F.col("s").alias("s_r"))
    return (
        cand.join(l, "id_l")
        .join(r, "id_r")
        .withColumn("jaccard", F.round(jaccard(F.col("s_l"), F.col("s_r")), 6))
        .where(F.col("jaccard") >= threshold)
        # two-step rename (lateral-column-alias shadow, verify gotcha)
        .select(
            F.least("id_l", "id_r").alias("a"),
            F.greatest("id_l", "id_r").alias("b"),
            "jaccard",
        )
        .select(
            F.col("a").alias("id_l"), F.col("b").alias("id_r"), "jaccard"
        )
    )


def simhash_fingerprints(df: DataFrame, text_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """(id, sim) — classic simhash: per-bit majority vote over the
    document's (non-distinct) token hashes, so term frequency weights
    the vote exactly as in Charikar's original formulation."""
    from fenix_spark.functions.texthash import tokens_sql

    try:
        toks = tokens_sql(text_col)
    except ValueError:  # unquotable name / unsafe regex: Column path
        toks = tokens(F.col(text_col))
    return spread(df).select(
        F.col(id_col).alias("id"), simhash(toks, bits).alias("sim")
    )


def simhash_neardup_pairs(
    df: DataFrame, text_col: str, id_col: str, max_hamming: int = 3
) -> DataFrame:
    """Pairs with simhash hamming distance ≤ ``max_hamming``.

    Pigeonhole exactness: 3 flipped bits touch ≤ 3 of the 4 disjoint
    8-bit bands, so every qualifying pair agrees exactly on ≥ 1 band —
    the band equi-join has PERFECT recall for hamming ≤ 3, and the
    bit_count(xor) post-filter gives exact precision. No brute-force
    |docs|² comparison anywhere.
    """
    # localCheckpoint: the fingerprint frame feeds BOTH sides of the
    # band self-join, and the build side broadcasts — without a
    # materialization Spark recomputes the tokenize+hash chain twice
    # (VERDICT r01 perf item 3). The checkpointed RDD is executor-local
    # and GC'd with the DataFrame reference.
    fps = simhash_fingerprints(df, text_col, id_col).transform(_ckpt_lazy)
    band_rows = fps.select(
        "id",
        "sim",
        F.posexplode(
            F.array(*[F.shiftrightunsigned(F.col("sim"), 8 * b).bitwiseAND(F.lit(255)) for b in range(4)])
        ).alias("band", "key"),
    )
    l = band_rows.select(F.col("id").alias("id_l"), F.col("sim").alias("sim_l"), "band", "key")
    r = band_rows.select(F.col("id").alias("id_r"), F.col("sim").alias("sim_r"), "band", "key")
    return (
        l.join(r, ["band", "key"])
        .where(F.col("id_l") < F.col("id_r"))
        .select("id_l", "id_r", F.expr("bit_count(sim_l ^ sim_r)").alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def winnow_fingerprints(
    df: DataFrame, text_col: str, id_col: str, shingle: int = 3, window: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer et al., SIGMOD'03):
    hash every ``shingle``-token shingle (rolling over the token
    stream), then keep the MIN hash of each sliding ``window`` of
    consecutive shingle hashes; distinct mins are the fingerprint.

    Guarantees: any shared run of ``window + shingle - 1`` tokens
    between two documents yields ≥ 1 shared fingerprint. Pure per-row
    array math — no shuffle; output exploded to (id, fp) rows for
    hash-stable comparison.
    """
    toks = tokens(F.col(text_col))
    hashes = F.transform(word_shingles(toks, shingle), hash60)

    def mins(hs: Column) -> Column:
        n_windows = F.greatest(F.size(hs) - F.lit(window - 1), F.lit(1))
        return F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_windows),
                lambda i: F.array_min(F.slice(hs, i.cast("int"), window)),
            )
        )

    # let-bind the hash array: a plain reference would re-evaluate the
    # full tokenize+shingle+md5 chain per WINDOW (O(n²) per document)
    return spread(df).select(
        F.col(id_col).alias("id"), F.explode(let(hashes, mins)).alias("fp")
    )


def dedup_eval(
    predicted: DataFrame,
    truth: DataFrame,
    pred_cols: tuple[str, str] = ("id_l", "id_r"),
    truth_cols: tuple[str, str] = ("id_l", "id_r"),
) -> dict:
    """Precision/recall/F1 of a predicted pair set against labeled
    truth pairs — the tuning loop for threshold/band geometry.

    Pairs are canonicalized (min, max) on both sides so orientation
    never miscounts; the three counts are two semi/anti joins on
    16-byte pair keys. Returns a dict (driver scalars) because this
    is an evaluation summary, not a data product."""

    def canon(df: DataFrame, cols: tuple[str, str]) -> DataFrame:
        a, b = (F.col(cols[0]), F.col(cols[1]))
        return df.select(
            F.least(a, b).alias("a"), F.greatest(a, b).alias("b")
        ).distinct()

    p = canon(predicted, pred_cols).transform(_ckpt_lazy)
    t = canon(truth, truth_cols).transform(_ckpt_lazy)
    n_pred = p.count()
    n_truth = t.count()
    tp = p.join(t, ["a", "b"], "left_semi").count()
    precision = tp / n_pred if n_pred else 1.0
    recall = tp / n_truth if n_truth else 1.0
    f1 = (
        2 * precision * recall / (precision + recall)
        if precision + recall
        else 0.0
    )
    return {
        "predicted": n_pred,
        "truth": n_truth,
        "true_positives": tp,
        "precision": precision,
        "recall": recall,
        "f1": f1,
    }
