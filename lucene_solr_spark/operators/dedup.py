"""Large-scale deduplication operators over a document corpus.

The four standard near-dup families a training-data pipeline needs, each
Spark-first and shuffle-conscious, over ``documents(doc_id, text, ...)``:

- **exact**: content-hash groupBy — one shuffle keyed by md5(text); at 100 TB
  the map-side partial agg collapses each duplicate cluster before shuffle.
- **n-gram Jaccard**: shingle self-join — the classic exact near-dup join;
  the shingle key is the shuffle axis, so frequent shingles are the skew
  hazard: a DF cap drops stop-shingles (standard practice, keeps the join
  linear).
- **MinHash + LSH**: 128 permutations folded into 16 8-row bands by default
  (the production profile; the 16-perm/4-band contract scale stays available
  as explicit ``n_perms=16, n_bands=4`` and its lanes are a prefix of the
  128); only docs sharing a band bucket ever meet in the join — the scalable
  path (candidate count ~ O(n·dup_rate), not O(n²)).
- **SimHash**: 64-bit weighted fingerprint; candidates = equal 3-of-6 block
  combination keys (Manku et al. WWW'07 — complete recall through hamming 3,
  ~2^32 buckets per table) verified by full-fingerprint distance.

All hashing goes through :mod:`..functions.hashing` so every operator is
reproducible by the DuckDB oracle with literal arithmetic.  Token/shingle
work is vectorized (pandas str ops + numpy folds) inside Arrow UDFs.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window, functions as F

from ..functions.hashing import LSH_BANDS_PROD, N_MINHASH_PROD, minhash_sigs, poly31

SHINGLE_K = 3  # tokens per shingle


def exact_dup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: (content md5, n_copies, keep_id) per duplicate cluster.

    ``keep_id`` = min doc_id is the canonical survivor.  One shuffle, fully
    partial-aggregated map-side.
    """
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("content_md5"))
        .agg(F.count("*").cast("bigint").alias("n_copies"), F.min("doc_id").cast("bigint").alias("keep_id"))
        .filter(F.col("n_copies") > 1)
    )


def _shingle_udf(k: int = SHINGLE_K):
    """mapInPandas: docs -> distinct (doc_id, shingle_hash) rows."""

    def fn(iterator):
        for pdf in iterator:
            toks = pdf["text"].str.lower().str.findall(r"[a-z0-9]+")
            n_sh = (toks.str.len() - (k - 1)).clip(lower=0).to_numpy(dtype=np.int64)
            doc_rep = np.repeat(pdf["doc_id"].to_numpy(dtype=np.int64), n_sh)
            sh: list[str] = []
            for t in toks:  # per-doc (not per-row-of-output); joins are C-speed
                sh.extend(" ".join(t[i : i + k]) for i in range(max(0, len(t) - k + 1)))
            if not sh:
                continue
            hashes = poly31(pd.Series(sh))
            out = pd.DataFrame({"doc_id": doc_rep, "shingle_hash": hashes}).drop_duplicates()
            yield out

    return fn


def shingles(docs: DataFrame, k: int = SHINGLE_K) -> DataFrame:
    """Distinct (doc_id, shingle_hash) pairs; the base relation for Jaccard
    and MinHash."""
    from ..session import spread_partitions

    # no Spark-level dropDuplicates: one input row = one whole doc, so the
    # UDF's per-batch drop_duplicates IS the global (doc_id, shingle) dedup —
    # a distinct here would be a full extra shuffle of the shingle relation
    return spread_partitions(docs.select("doc_id", "text")).mapInPandas(
        _shingle_udf(k), schema="doc_id bigint, shingle_hash bigint"
    )


def _triangular_pairs(pdf: pd.DataFrame):
    """All (doc_a < doc_b) pairs within each shingle_hash run of a frame
    sorted by (shingle_hash, doc_id) — fully vectorized: element j of a run
    pairs with every earlier element, so ``b = repeat(doc, within_idx)`` and
    the ``a`` side is a single gather by triangular index arithmetic."""
    h = pdf["shingle_hash"].to_numpy(dtype=np.int64)
    d = pdf["doc_id"].to_numpy(dtype=np.int64)
    if h.size == 0:
        return None
    new = np.empty(h.size, dtype=bool)
    new[0] = True
    new[1:] = h[1:] != h[:-1]
    starts = np.flatnonzero(new)  # run start index per run
    run_of = np.cumsum(new) - 1
    within = np.arange(h.size, dtype=np.int64) - starts[run_of]  # 0,1,2,... per run
    total = int(within.sum())
    if total == 0:
        return None
    b = np.repeat(d, within)
    pair_base = np.cumsum(within) - within  # first output slot per element
    a_idx = np.arange(total, dtype=np.int64) - np.repeat(pair_base, within) + np.repeat(
        starts[run_of], within
    )
    return pd.DataFrame({"doc_a": d[a_idx], "doc_b": b})


def ngram_jaccard_pairs(
    docs: DataFrame, threshold: float = 0.5, k: int = SHINGLE_K, max_shingle_df: int = 1000
) -> DataFrame:
    """Exact n-gram Jaccard near-dup pairs (doc_a < doc_b, jac >= threshold).

    |A∩B| via the shingle self-join; |A∪B| = |A|+|B|-|A∩B|.  Stop-shingles
    (df > max_shingle_df) are dropped from the *join only* — at web scale they
    would otherwise quadratically dominate the shuffle (skew control).
    Sizes still count every shingle, so Jaccard stays exact w.r.t. the kept
    shingle space.
    """
    sh = shingles(docs, k).persist()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("sz"))
    # anti-join against the OVER-cap (stop-shingle) set — the Zipf head,
    # bounded by total_occurrences / max_shingle_df, not the under-cap set
    # (≈ every distinct shingle at web scale, never broadcast-sized); no
    # forced hint — AQE broadcasts the head when it fits
    stop = (
        sh.groupBy("shingle_hash")
        .agg(F.count("*").alias("sdf"))
        .filter(F.col("sdf") > max_shingle_df)
    )
    joinable = sh.join(stop.select("shingle_hash"), "shingle_hash", "left_anti")

    # pair generation: ONE hash exchange + a sorted linear pass (vectorized
    # triangular expansion per shingle run), instead of a self-join's two
    # exchanges + hash-probe. doc_a < doc_b falls out of the in-run doc sort.
    spark = docs.sparkSession
    n_part = int(spark.conf.get("spark.sql.shuffle.partitions"))
    bucketed = joinable.repartition(n_part, "shingle_hash").sortWithinPartitions(
        "shingle_hash", "doc_id"
    )

    def expand(iterator):
        carry = None
        for pdf in iterator:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
            h = pdf["shingle_hash"].to_numpy(dtype=np.int64)
            if h.size == 0:
                carry = None
                continue
            # hold back the trailing run — it may continue in the next batch
            cut = int(np.searchsorted(h, h[-1], side="left"))
            carry = pdf.iloc[cut:]
            head = pdf.iloc[:cut]
            out = _triangular_pairs(head)
            if out is not None:
                yield out
        if carry is not None and len(carry):
            out = _triangular_pairs(carry)
            if out is not None:
                yield out

    pairs = bucketed.mapInPandas(expand, schema="doc_a bigint, doc_b bigint")
    inter = pairs.groupBy("doc_a", "doc_b").agg(F.count("*").alias("n_inter"))
    out = (
        inter.join(sizes.select(F.col("doc_id").alias("doc_a"), F.col("sz").alias("sz_a")), "doc_a")
        .join(sizes.select(F.col("doc_id").alias("doc_b"), F.col("sz").alias("sz_b")), "doc_b")
        .withColumn("jac", F.col("n_inter") / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")))
        .filter(F.col("jac") >= threshold)
    )
    return out.select("doc_a", "doc_b", "n_inter", "sz_a", "sz_b")


def minhash_signatures(docs: DataFrame, k: int = SHINGLE_K, n_perms: int = N_MINHASH_PROD) -> DataFrame:
    """(doc_id, sig_0..sig_{n_perms-1}): per-doc MinHash signature.

    min over the doc's shingle hashes under each fixed permutation — a single
    groupBy(doc_id) with ``n_perms`` min() aggregates (map-side combinable;
    the shuffle carries ``n_perms`` ints per doc).  The default is the
    PRODUCTION 128-lane profile (16 8-row bands downstream); the 16-lane
    contract scale stays available as explicit ``n_perms=16`` and its lanes
    are a prefix of the 128 (closed-form LCG rule in
    ``functions.hashing.minhash_perm_constants``), so signatures computed at
    either width agree on the shared lanes."""
    sh = shingles(docs, k)

    def add_sigs(iterator):
        for pdf in iterator:
            sigs = minhash_sigs(pdf["shingle_hash"].to_numpy(dtype=np.int64), n_perms)
            out = pd.DataFrame({"doc_id": pdf["doc_id"].to_numpy(dtype=np.int64)})
            for i in range(n_perms):
                out[f"sig_{i}"] = sigs[:, i]
            yield out

    schema = "doc_id bigint, " + ", ".join(f"sig_{i} bigint" for i in range(n_perms))
    per_shingle = sh.mapInPandas(add_sigs, schema=schema)
    return per_shingle.groupBy("doc_id").agg(
        *[F.min(f"sig_{i}").alias(f"sig_{i}") for i in range(n_perms)]
    )


def minhash_lsh_pairs(
    docs: DataFrame, k: int = SHINGLE_K, n_bands: int = LSH_BANDS_PROD, n_perms: int = N_MINHASH_PROD
) -> DataFrame:
    """LSH candidate pairs: docs agreeing on all rows of >=1 band.

    Band key = the tuple of that band's signature values; the band-bucket
    groupBy is the only shuffle that can skew (giant buckets of identical
    docs) — bounded upstream by exact-dedup first in a real pipeline.
    Returns distinct (doc_a < doc_b) candidates with the matching band id.
    """
    if n_perms % n_bands:
        raise ValueError("n_perms must divide evenly into n_bands")
    sigs = minhash_signatures(docs, k, n_perms).persist()
    rows_per_band = n_perms // n_bands
    # all band keys from ONE posexplode pass (no n_bands-way self-union)
    keys = F.array(
        *[
            F.concat_ws(
                "_",
                *[
                    F.col(f"sig_{b * rows_per_band + r}").cast("string")
                    for r in range(rows_per_band)
                ],
            )
            for b in range(n_bands)
        ]
    )
    all_bands = sigs.select("doc_id", F.posexplode(keys).alias("band", "band_key"))
    a = all_bands.select("band", "band_key", F.col("doc_id").alias("doc_a"))
    b_ = all_bands.select("band", "band_key", F.col("doc_id").alias("doc_b"))
    return (
        a.join(b_, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.min("band").cast("int").alias("first_band"))
    )


def simhash(docs: DataFrame, bits: int = 64) -> DataFrame:
    """(doc_id, simhash bigint): tf-weighted SimHash over token hashes.

    The 64-bit bit source is TWO independent 32-bit char-polynomial hashes of
    each token (base 31 → fingerprint bits 0-31, base 37 → bits 32-63), both
    oracle-reproducible with plain SQL arithmetic.  Bit j of the fingerprint
    is 1 iff sum over distinct token hashes of tf * (2*bit_j(h)-1) > 0.  The
    value is returned as the int64 two's-complement reinterpretation of the
    unsigned 64-bit fingerprint (XOR/bit_count operate on the raw bit pattern
    either way).  All numpy: the per-batch work is one (tokens x bits)
    matmul-shaped reduction.  ``bits=32`` keeps the old single-hash form.
    """
    if bits not in (32, 64):
        raise ValueError("bits must be 32 or 64")

    def fn(iterator):
        for pdf in iterator:
            toks = pdf["text"].str.lower().str.findall(r"[a-z0-9]+")
            doc_ids = pdf["doc_id"].to_numpy(dtype=np.int64)
            lens = toks.str.len().to_numpy(dtype=np.int64)
            flat = [t for lst in toks for t in lst]
            if not flat:
                yield pd.DataFrame({"doc_id": doc_ids, "simhash": np.zeros(len(doc_ids), np.int64)})
                continue
            fs = pd.Series(flat)
            lo = poly31(fs, mod=1 << 32)
            hi = poly31(fs, mod=1 << 32, base=37) if bits == 64 else np.zeros_like(lo)
            owner = np.repeat(np.arange(len(pdf), dtype=np.int64), lens)
            # per-(doc, token-hash) tf via sorted run counting on (owner, lo, hi)
            order = np.lexsort((hi, lo, owner))
            o_s, lo_s, hi_s = owner[order], lo[order], hi[order]
            new = np.empty(len(o_s), dtype=bool)
            new[0] = True
            new[1:] = (o_s[1:] != o_s[:-1]) | (lo_s[1:] != lo_s[:-1]) | (hi_s[1:] != hi_s[:-1])
            starts = np.flatnonzero(new)
            tf = np.diff(np.append(starts, len(o_s)))
            u_owner, u_lo, u_hi = o_s[starts], lo_s[starts], hi_s[starts]
            j32 = np.arange(32)[None, :]
            acc = np.zeros((len(pdf), bits), dtype=np.int64)
            np.add.at(acc[:, :32], u_owner, (((u_lo[:, None] >> j32) & 1) * 2 - 1) * tf[:, None])
            if bits == 64:
                np.add.at(acc[:, 32:], u_owner, (((u_hi[:, None] >> j32) & 1) * 2 - 1) * tf[:, None])
            set_bits = (acc > 0).astype(np.uint64)
            fp = (set_bits << np.arange(bits, dtype=np.uint64)[None, :]).sum(
                axis=1, dtype=np.uint64
            )
            yield pd.DataFrame({"doc_id": doc_ids, "simhash": fp.view(np.int64)})

    from ..session import spread_partitions

    return spread_partitions(docs.select("doc_id", "text")).mapInPandas(
        fn, schema="doc_id bigint, simhash bigint"
    )


def simhash_blocks(bits: int = 64, n_blocks: int = 6) -> list[tuple[int, int]]:
    """(absolute_bit_offset, size) of the fingerprint blocks: each 32-bit
    half splits into n_blocks/2 blocks, so no block straddles the half
    boundary (keeps the SQL-oracle extraction sign-free integer division)."""
    if bits != 64 or n_blocks % 2:
        raise ValueError("block layout is defined for bits=64, even n_blocks")
    per_half = n_blocks // 2
    out = []
    for half_base in (0, 32):
        off = 0
        for i in range(per_half):
            size = (32 - off) // (per_half - i)
            out.append((half_base + off, size))
            off += size
    return out


def simhash_near_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    bits: int = 64,
    n_blocks: int = 6,
    key_blocks: int = 3,
    collapse_identical: bool = True,
) -> DataFrame:
    """Near-dup pairs by Manku-style block-combination SimHash probing
    (Manku, Jain & Sarma, "Detecting Near-Duplicates for Web Crawling",
    WWW'07 §3): split the 64-bit fingerprint into ``n_blocks`` blocks and
    build one candidate table per ``C(n_blocks, key_blocks)`` combination,
    keyed by the concatenation of those blocks.

    Pigeonhole guarantee: a pair at hamming distance d touches at most d
    blocks, so whenever ``d <= n_blocks - key_blocks`` some combination of
    ``key_blocks`` untouched blocks exists and the pair shares that table's
    key — recall is COMPLETE for ``max_hamming <= n_blocks - key_blocks``
    (default 6-choose-3: guaranteed through hamming 3).  Verification then
    filters by true XOR distance, so precision is exact.

    Scale shape: key width is ~``key_blocks/n_blocks`` of 64 bits (~32 bits
    by default, ~4·10^9 buckets), so expected bucket occupancy is n/2^32 and
    the within-bucket self-join stays linear until corpora far beyond 10^9
    docs — unlike half-fingerprint banding whose 2^16 buckets go quadratic at
    ~10^8.  The shuffle carries C(6,3)=20 rows per doc, each ~24 bytes.

    Oversized-bucket guard (``collapse_identical=True``, default): the one
    way a ~2^32-key bucket still goes quadratic is a flood of IDENTICAL
    fingerprints (boilerplate/exact dupes land on every probe key together).
    The guard runs the banded join over DISTINCT fingerprints only (one
    min-representative per fingerprint), then expands fingerprint-level
    pairs back to doc pairs and emits identical-fingerprint pairs (hamming
    0) from a fingerprint-keyed equi-join.  Candidate volume becomes
    O(distinct_fps per bucket)², independent of duplication skew; the
    remaining per-fingerprint work is proportional to the OUTPUT pair count,
    which no pair-emitting operator can beat (collapse such groups with
    :func:`duplicate_components` downstream).  Output is row-identical to
    the direct path (pinned by a pytest).
    """
    blocks = simhash_blocks(bits, n_blocks)
    if max_hamming > n_blocks - key_blocks:
        raise ValueError(
            f"recall guarantee requires max_hamming <= n_blocks - key_blocks "
            f"= {n_blocks - key_blocks}; raise n_blocks or lower max_hamming"
        )
    sh = simhash(docs, bits)
    if collapse_identical:
        return _simhash_pairs_collapsed(sh, max_hamming, blocks, n_blocks, key_blocks)
    all_bands = _simhash_band_keys(sh, blocks, n_blocks, key_blocks)
    a = all_bands.select("band", "band_key", F.col("doc_id").alias("doc_a"), F.col("simhash").alias("fp_a"))
    b = all_bands.select("band", "band_key", F.col("doc_id").alias("doc_b"), F.col("simhash").alias("fp_b"))
    cand = a.join(b, ["band", "band_key"]).filter(F.col("doc_a") < F.col("doc_b"))
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    return (
        cand.withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
        .distinct()
    )


def _simhash_band_keys(
    sh: DataFrame, blocks, n_blocks: int, key_blocks: int, extra_cols: tuple = ()
) -> DataFrame:
    """All C(n_blocks, key_blocks) probe keys in ONE projection + explode —
    a 20-way union of selects over a persisted df costs 20 cached reads
    (and leaks the cache); the explode is a single scan and pure codegen."""
    from itertools import combinations

    entries = []
    for t, combo in enumerate(combinations(range(n_blocks), key_blocks)):
        key = F.lit(0).cast("long")
        for bi in combo:
            off, size = blocks[bi]
            val = F.shiftrightunsigned(F.col("simhash"), off).bitwiseAND(F.lit((1 << size) - 1))
            key = F.shiftleft(key, size).bitwiseOR(val)
        entries.append(F.struct(F.lit(t).alias("band"), key.alias("band_key")))
    return sh.select(
        "doc_id", "simhash", *extra_cols, F.explode(F.array(*entries)).alias("bk")
    ).select(
        "doc_id",
        "simhash",
        *extra_cols,
        F.col("bk.band").alias("band"),
        F.col("bk.band_key").alias("band_key"),
    )


def _simhash_pairs_collapsed(
    sh: DataFrame, max_hamming: int, blocks, n_blocks: int, key_blocks: int
) -> DataFrame:
    """Oversized-bucket-guarded pair generation: banded join over one
    representative per DISTINCT fingerprint, fingerprint-level pairs
    expanded back to doc pairs, identical-fingerprint (hamming 0) pairs
    generated per fingerprint group.  Row-identical to the direct path;
    candidate volume is quadratic only in distinct fingerprints per bucket,
    never in duplication skew.

    The per-fingerprint doc list rides THROUGH the band join (sorted array
    from the one groupBy over the fingerprint pass), so the expansion is a
    pure explode — no join back to the fingerprint relation.  ``reps`` is
    persisted (manifest scale: ONE row per distinct fingerprint) so the
    expensive corpus-scale mapInPandas fingerprint scan runs once, not 3x
    (a/b band sides + the identical-pair branch); MEMORY_AND_DISK, so worst
    case it spills rather than recomputes, and LRU eviction bounds the
    footprint for callers that never unpersist the lazy result."""
    from pyspark import StorageLevel

    reps = sh.groupBy("simhash").agg(
        F.min("doc_id").alias("doc_id"),
        F.count("*").alias("n_docs"),
        F.sort_array(F.collect_list("doc_id")).alias("docs"),
    ).persist(StorageLevel.MEMORY_AND_DISK)
    rep_bands = _simhash_band_keys(reps, blocks, n_blocks, key_blocks, extra_cols=("docs",))
    a = rep_bands.select(
        "band", "band_key", F.col("doc_id").alias("rep_a"),
        F.col("simhash").alias("fp_a"), F.col("docs").alias("docs_a"),
    )
    b = rep_bands.select(
        "band", "band_key", F.col("doc_id").alias("rep_b"),
        F.col("simhash").alias("fp_b"), F.col("docs").alias("docs_b"),
    )
    hamming = F.bit_count(F.col("fp_a").bitwiseXOR(F.col("fp_b")))
    fp_pairs = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("rep_a") < F.col("rep_b"))
        .withColumn("hamming", hamming.cast("int"))
        .filter(F.col("hamming") <= max_hamming)
        # all duplicate rows of an fp pair carry identical arrays, so the
        # subset-dedup is deterministic and never hashes the payloads
        .dropDuplicates(["fp_a", "fp_b"])
        .select("docs_a", "docs_b", "hamming")
    )
    # cross-fingerprint expansion: each doc belongs to exactly one
    # fingerprint, so expanding a distinct fp pair yields unique doc pairs
    cross = (
        fp_pairs.select(F.explode("docs_a").alias("da"), "docs_b", "hamming")
        .select("da", F.explode("docs_b").alias("db"), "hamming")
        .select(
            F.least("da", "db").alias("doc_a"),
            F.greatest("da", "db").alias("doc_b"),
            "hamming",
        )
    )
    identical = (
        reps.filter(F.col("n_docs") > 1)
        .select(F.explode("docs").alias("doc_a"), "docs")
        .select("doc_a", F.explode("docs").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.lit(0).cast("int").alias("hamming"))
    )
    return cross.unionByName(identical)


def duplicate_components(pairs: DataFrame, max_rounds: int = 25) -> DataFrame:
    """Collapse candidate near-dup pairs into duplicate CLUSTERS:
    ``(doc_id, component)`` where component = min doc_id reachable.

    The step every real dedup pipeline needs after pair generation: keep one
    representative per connected component of the similarity graph (the
    component id IS the canonical survivor).

    Distributed min-label propagation with pointer jumping (path halving):
    each round every node takes the min label over itself, its neighbors'
    labels, and its label's label.  The jump step collapses chains
    geometrically, so rounds = O(log(diameter)) rather than O(diameter) —
    the same convergence guarantee as the large-star/small-star MapReduce
    algorithm (Kiveris et al., "Connected Components in MapReduce and
    Beyond") while keeping every round two shuffles (one neighbor groupBy,
    one label self-join), both keyed on ids, never on payloads.  Duplicate
    clusters in practice are near-cliques from LSH banding, so typical
    convergence is 2-3 rounds; the driver-side loop only ever sees one
    ``count()`` per round (the changed-label check), never label data.

    ``pairs``: (doc_a, doc_b) DataFrame (any extra columns ignored).
    """
    sym = (
        pairs.select(F.col("doc_a").alias("src"), F.col("doc_b").alias("dst"))
        .unionByName(pairs.select(F.col("doc_b").alias("src"), F.col("doc_a").alias("dst")))
        .distinct()
        .persist()
    )
    labels = (
        sym.groupBy("src")
        .agg(F.min("dst").alias("nmin"))
        .select(F.col("src").alias("doc_id"), F.least("src", "nmin").alias("label"))
        .localCheckpoint(eager=True)
    )
    # each round reads `labels` three times, so an un-truncated lineage
    # triples the plan every round; localCheckpoint (as in graph.py) keeps
    # each round's plan one round deep
    for _ in range(max_rounds):
        nb = (
            sym.join(labels, sym["src"] == labels["doc_id"])
            .groupBy(F.col("dst").alias("doc_id"))
            .agg(F.min("label").alias("nb_min"))
        )
        cand = labels.join(nb, "doc_id", "left").select(
            "doc_id", F.least("label", F.coalesce("nb_min", "label")).alias("label1")
        )
        jump = labels.select(F.col("doc_id").alias("label1"), F.col("label").alias("jmp"))
        new_labels = (
            cand.join(jump, "label1", "left")
            .select("doc_id", F.least("label1", F.coalesce("jmp", "label1")).alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc_id")
            .filter(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    return labels.select("doc_id", F.col("label").alias("component"))


def ngram_contamination(
    docs: DataFrame, eval_docs: DataFrame, k: int = SHINGLE_K
) -> DataFrame:
    """Benchmark decontamination: per training doc, how many of its distinct
    k-gram shingles appear anywhere in the evaluation set — the standard
    n-gram-overlap contamination check run before training-data release (no
    reference analog; task-brief training-pipeline surface).

    Returns ``(doc_id, n_shingles, n_hits)`` for every training doc (n_hits =
    0 when clean); callers drop or down-weight docs by ``n_hits / n_shingles``.

    Scale shape: the eval shingle set is tiny next to the corpus (benchmarks
    are small by definition) — it broadcast-joins against the training
    shingle stream, so the corpus-sized side never shuffles; the only
    aggregation is the per-doc count pair.
    """
    train_sh = shingles(docs, k).persist()
    eval_sh = shingles(eval_docs, k).select("shingle_hash").distinct()
    sizes = train_sh.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n_shingles"))
    hits = (
        train_sh.join(F.broadcast(eval_sh), "shingle_hash")
        .groupBy("doc_id")
        .agg(F.count("*").cast("bigint").alias("n_hits"))
    )
    return sizes.join(hits, "doc_id", "left").fillna({"n_hits": 0})


def select_survivors(
    components: DataFrame, docs: DataFrame, quality_col: str, id_col: str = "doc_id"
) -> DataFrame:
    """Pick one survivor per duplicate cluster by quality — the step after
    :func:`duplicate_components` in every dedup pipeline (no reference
    analog; task-brief training-pipeline surface).

    Returns ``(doc_id, component, survivor)`` for every clustered doc, where
    ``survivor`` is the member with the highest ``quality_col`` (ties broken
    by lowest doc_id — deterministic).  Docs outside any cluster are their
    own survivors by definition and are not returned.

    One join to attach quality (clusters are tiny next to the corpus — the
    corpus side is semi-filtered first) and one ``max_by`` aggregation per
    component; the shuffle carries only clustered ids.
    """
    q = docs.select(F.col(id_col).alias("doc_id"), F.col(quality_col).alias("_q"))
    withq = components.join(q, "doc_id")
    best = withq.groupBy("component").agg(
        F.expr("max_by(doc_id, struct(_q, -doc_id))").alias("survivor")
    )
    return components.join(best, "component").select("doc_id", "component", "survivor")


def duplicated_spans(
    docs: DataFrame, k: int = 10, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact substring-duplication spans — the distributed analog of the
    suffix-array dedup in Lee et al. 2022, *Deduplicating Training Data
    Makes Language Models Better* (no reference analog; task-brief
    training-pipeline surface).

    A token position is *duplicated* when its ``k``-gram occurs at >= 2
    ``(doc, pos)`` locations corpus-wide (cross-doc boilerplate AND
    within-doc self-repetition, like the paper's suffix array).  Duplicated
    positions whose k-gram windows overlap or touch (``pos - prev <= k``)
    merge into one maximal span.  Returns ``(doc_id, span_start, span_len)``
    in token units — feed to a slicer to cut the spans, or aggregate for
    per-doc duplication stats.

    Plan shape at scale: one k-gram exchange keyed by ``xxhash64`` of the
    gram (the only corpus-sized shuffle; partial aggregation collapses hot
    boilerplate grams map-side, and AQE skew-join splits the join back for
    the survivors), then one doc-keyed window to merge positions into spans.
    No Python in the hot path — slice/concat_ws/xxhash64 are codegen.
    """
    toks = docs.select(
        F.col(id_col).alias("doc_id"), F.split(F.col(text_col), " ").alias("t")
    ).filter(F.size("t") >= k)
    grams = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, size(t) - {k}), i -> "
                f"xxhash64(concat_ws(' ', slice(t, i + 1, {k}))))"
            )
        ).alias("pos", "h"),
    )
    dup_h = grams.groupBy("h").agg(F.count("*").alias("_c")).filter(F.col("_c") >= 2)
    dup_pos = grams.join(dup_h.select("h"), "h").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    islands = dup_pos.withColumn(
        "_brk",
        F.when(F.col("pos") - F.lag("pos").over(w) <= k, F.lit(0)).otherwise(F.lit(1)),
    ).withColumn("_gid", F.sum("_brk").over(w))
    return (
        islands.groupBy("doc_id", "_gid")
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + k - F.min("pos")).alias("span_len"),
        )
        .select("doc_id", "span_start", "span_len")
    )


def line_dedup(
    docs: DataFrame,
    min_df: int = 2,
    text_col: str = "text",
    id_col: str = "doc_id",
    delim: str = "\n",
) -> DataFrame:
    """CCNet-style line-level dedup: drop every line whose exact content
    appears in >= ``min_df`` DISTINCT documents (navigation bars, cookie
    banners, share buttons — the boilerplate that survives doc-level dedup;
    CCNet/RefinedWeb run this pass before any fuzzy dedup).  No reference
    analog; task-brief training-pipeline surface.

    Returns ``(doc_id, clean_text, n_lines, n_kept)``; blank lines are
    document structure, never content — they are kept verbatim and excluded
    from the df count.  ``delim="\\n\\n"`` gives the paragraph-level variant
    of the same pass (``delim`` is a Java regex, like ``F.split``).

    Plan shape at scale: (1) one line-keyed groupBy for the df count —
    map-side partial aggregation collapses each hot boilerplate line to one
    row per task before the exchange; (2) the kept-filter join is corpus
    lines against the *duplicated-line* set only, orders of magnitude
    smaller than the corpus (AQE broadcasts it when it fits); (3) one
    doc-keyed groupBy to reassemble text — the unavoidable exchange of any
    document-reconstruction step, carrying only surviving lines.  All
    expressions are codegen built-ins; no Python in the hot path.
    """
    lines = docs.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), delim, -1)).alias("pos", "line"),
    )
    dup = (
        lines.filter(F.trim("line") != "")
        .groupBy("line")
        .agg(F.count_distinct("doc_id").alias("_df"))
        .filter(F.col("_df") >= min_df)
        .select("line", F.lit(1).alias("_dup"))
    )
    kept = lines.join(dup, "line", "left").filter(
        F.col("_dup").isNull() | (F.trim("line") == "")
    )
    rebuilt = kept.groupBy("doc_id").agg(
        F.array_join(
            F.expr("transform(array_sort(collect_list(struct(pos, line))), x -> x.line)"),
            delim,
        ).alias("clean_text"),
        F.count("*").cast("bigint").alias("n_kept"),
    )
    totals = docs.select(
        F.col(id_col).alias("doc_id"),
        F.size(F.split(F.col(text_col), delim, -1)).cast("bigint").alias("n_lines"),
    )
    return totals.join(rebuilt, "doc_id", "left").select(
        "doc_id",
        F.coalesce("clean_text", F.lit("")).alias("clean_text"),
        "n_lines",
        F.coalesce("n_kept", F.lit(0)).cast("bigint").alias("n_kept"),
    )
