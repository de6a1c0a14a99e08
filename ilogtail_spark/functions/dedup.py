"""Deduplication family for training-data pipelines (`documents` table).

Four tiers, each a different cost/recall point at 100 TB:

  * exact_dedup       — hash-groupBy; one shuffle on md5(text).
  * ngram_jaccard     — EXACT token-shingle Jaccard pairs; quadratic in
                        candidates sharing a shingle — the correctness
                        oracle for the approximate tiers (small SF only).
  * minhash_lsh       — MinHash signatures + banded LSH bucket join; the
                        scale path: shuffle cost O(docs × bands), never
                        O(docs²).
  * simhash           — 64-bit SimHash + hamming-band candidate join.

All hashes derive from md5 (stable across engines/runs) — no Python on
workers anywhere.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ilogtail_spark.functions.textstats import tokens

_P = 2147483647  # 2^31-1, the classic MinHash modulus


def minhash_coeffs(num_hashes: int = 64) -> list[tuple[int, int]]:
    """Per-permutation (a_i, b_i) for the universal-hash family
    h_i(x) = (a_i * (x mod P) + b_i) mod P, each coefficient derived
    from an INDEPENDENT md5 — a_i ∈ [1, P-1], b_i ∈ [0, P-1].

    Structured constants (the previous a_i = 2i+1, b_i = 7i²+13) are the
    same defect class as the LCG hyperplanes that skewed LSH buckets
    ~1000× (similarity.py::_hyperplane, SCALE.md): small correlated
    multipliers make the estimators non-independent, inflating the
    variance of the Jaccard estimate near the band threshold. md5-derived
    coefficients carry no arithmetic relation across i. The SAME values
    feed the DuckDB oracle (queries.py renders them as list literals), so
    both engines stay bit-identical by construction."""
    import hashlib

    coeffs = []
    for i in range(num_hashes):
        a = (
            int.from_bytes(hashlib.md5(f"minhash:a:{i}".encode()).digest()[:8], "big")
            % (_P - 1)
            + 1
        )
        b = int.from_bytes(
            hashlib.md5(f"minhash:b:{i}".encode()).digest()[:8], "big"
        ) % _P
        coeffs.append((a, b))
    return coeffs


def exact_dedup(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Exact duplicate removal: keep the smallest id per md5(text).
    Map-side partial aggregation makes the shuffle carry one row per
    distinct hash per task."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("text_md5"))
        .agg(F.min(id_col).alias(id_col), F.count(F.lit(1)).alias("dup_count"))
    )


def _kgrams(toks: Column, n: int) -> Column:
    """Positional token n-grams as space-joined strings: element i (0-based)
    is tokens[i..i+n-1]; length = L−n+1 (empty when L < n).

    Built by n-1 zip_with concat passes over shifted views of the token
    array instead of a transform(sequence) of per-index slice +
    array_join: the per-element work is then one string concat rather
    than an array allocation + join, measured 3× faster at sf1.0
    (1.54 s → 0.48 s for the explode pass) and proven element-identical
    to the slice form on every SF and n ∈ {2,3,5,8} plus edge corpora
    (empty/short/repeated docs). zip_with pads the shorter side with
    NULL; the final slice to L−n+1 entries drops exactly those."""
    size = F.size(toks)
    m = F.greatest(size - (n - 1), F.lit(0))
    joined = toks
    for k in range(1, n):
        joined = F.zip_with(
            joined,
            F.slice(toks, k + 1, m),
            lambda a, b: F.concat(a, F.lit(" "), b),
        )
    return F.when(size >= n, F.slice(joined, 1, m)).otherwise(
        F.array().cast("array<string>")
    )


def _shingles(text_col: Column, n: int) -> Column:
    """Token n-gram shingles as strings, distinct (`_kgrams` without
    positions; a too-short doc contributes its whole text as the one
    shingle)."""
    toks = tokens(text_col)
    return F.array_distinct(
        F.when(F.size(toks) >= n, _kgrams(toks, n)).otherwise(
            F.array(F.array_join(toks, " "))
        )
    )


def _hash32(col: Column) -> Column:
    """Stable 32-bit-ish integer hash of a string via md5 prefix —
    reproducible in any engine (conv of the first 8 hex chars)."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("long")


def ngram_jaccard_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.8,
    max_df: int | None = None,
) -> DataFrame:
    """EXACT n-gram Jaccard near-dup pairs (id_a < id_b, jaccard ≥ t).

    Inverted-index join: explode distinct shingles, self-join on shingle,
    count shared, divide by union. Exact — and therefore the oracle for
    the LSH tier. Cost is bounded by shingle co-occurrence, not docs²,
    but quadratic in per-shingle document frequency: at scale set
    `max_df` to drop stopword shingles from the shingle space (jaccard
    is then computed over the filtered space — sizes and intersections
    stay consistent, so it remains a true Jaccard, of the informative
    shingles only).
    """
    from ilogtail_spark.partitioning import session_parallelism, spread_for_expansion

    df = spread_for_expansion(df, id_col)
    # join on the 64-bit xxhash of the shingle, not the string: the
    # self-join probes and the shuffle then carry one long instead of a
    # ~20-byte string, and every hash-table insert/probe hashes 8 bytes
    # (measured ~10% end-to-end at sf1.0). Two distinct shingles
    # colliding in 64 bits would merge their doc lists (P ≈ G²/2⁶⁵ for
    # G distinct shingles — ~2e-11 at the benched corpus); equality with
    # the string-key oracle is verified on the actual test corpora.
    sh = df.select(
        F.col(id_col).alias("id"),
        F.explode(_shingles(F.col(text_col), n)).alias("sh"),
    ).select("id", F.xxhash64("sh").alias("sh"))
    if max_df is not None:
        dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("__df__"))
        sh = sh.join(dfreq.filter(F.col("__df__") <= max_df).select("sh"), "sh")
    # used 3x (self-join both sides + sizes). localCheckpoint, NOT
    # persist(): persist registers with the session CacheManager and pins
    # executor storage until an explicit unpersist — in a long-lived
    # session re-running the registry that accumulates until eviction.
    # A (lazy) local checkpoint materializes once per action, is shared
    # by all three consumers, and its blocks are reclaimed by the
    # ContextCleaner when the plan is garbage collected.
    # TRADE-OFF (applies to every localCheckpoint in this module): the
    # blocks are non-replicated and the lineage is TRUNCATED, so losing
    # an executor mid-job fails the job instead of recomputing — fine
    # for this sandbox's single JVM and for jobs cheap to re-run, but a
    # multi-hour 100 TB pass on preemptible executors should use
    # persist(StorageLevel.MEMORY_AND_DISK) + explicit unpersist after
    # the action (recomputable lineage), or a reliable checkpoint to
    # the cluster FS.
    sh = sh.localCheckpoint(eager=False)
    sizes = sh.groupBy("id").agg(F.count(F.lit(1)).alias("sz"))
    # shuffle_hash, not the planner's broadcast pick: the checkpointed
    # shingle relation is DATA-sized (its stats read small enough to
    # broadcast at fixture scale, but it grows with the corpus), and the
    # driver-side single-threaded build of a multi-million-row hash
    # relation was measured slower than two narrow exchanges + parallel
    # per-partition builds — and it cannot OOM the driver at 100 TB.
    # the pair stream is the dominant shuffle (measured 138M rows /
    # 2.2 GB at sf1.0): when the corpus id span provably fits, pack the
    # (id_a, id_b) pair into ONE long — the exchange then carries 8
    # bytes per row instead of 16 and the aggregate hashes/compares a
    # single word (measured 10.3 s → 8.7 s for the join+agg stage at
    # sf1.0, 32 cores). The span bounds come from one driver-side
    # min/max over the id column (bounded metadata, like the IVF
    # centroid take()); the packing is exact — (a−mn)·span + (b−mn) is
    # a bijection on span² < 2⁶³ — and the unpack restores the original
    # ids, so the result is bit-identical. Corpora whose id span
    # exceeds the bijection range keep the two-column path.
    # dtype gate FIRST (driver-only metadata): the eager min/max job
    # only runs when packing could actually apply
    id_type = dict(df.dtypes).get(id_col)
    span = None
    if id_type == "bigint":
        bounds = df.agg(
            F.min(F.col(id_col)).alias("mn"), F.max(F.col(id_col)).alias("mx")
        ).first()
        span = (
            int(bounds["mx"]) - int(bounds["mn"]) + 1
            if bounds["mn"] is not None
            else None
        )
    packable = span is not None and span * span < 2**63
    pre_cols: list[Column]
    if packable:
        mn, mx = int(bounds["mn"]), int(bounds["mx"])
        # the bounds come from one evaluation of `df` and the pairs from
        # another: an id outside [mn, mx] (a nondeterministic input) would
        # pack into another pair's key, so it fails instead. a.id < b.id,
        # so checking a.id against mn and b.id against mx covers both.
        key = F.when(
            (F.col("a.id") < F.lit(mn)) | (F.col("b.id") > F.lit(mx)),
            F.raise_error(F.lit(
                f"ngram_jaccard_pairs: an id left the bounds [{mn}, {mx}] "
                "taken for the packed pair key; the input is nondeterministic"
            )),
        ).otherwise(
            (F.col("a.id") - F.lit(mn)) * F.lit(span) + (F.col("b.id") - F.lit(mn))
        ).alias("pk")
        pre_cols = [key]
    else:
        pre_cols = [F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b")]
    pre = sh.alias("a").join(
        sh.alias("b").hint("shuffle_hash"),
        (F.col("a.sh") == F.col("b.sh")) & (F.col("a.id") < F.col("b.id")),
    ).select(*pre_cols)
    # the pair-count aggregation's group cardinality is ≈ its input row
    # count (measured 114M groups / 127M rows at sf1.0 — co-occurring
    # pairs rarely repeat), so map-side partial aggregation cannot
    # reduce and per-task hash maps with millions of entries thrash.
    # Repartitioning the raw pair stream to 4× the session parallelism
    # before the aggregate quarters the per-task group count (derived
    # from the session, never a local constant; measured 11.8 s → 6.0 s
    # for the aggregate at sf1.0, 32 cores).
    if packable:
        pairs = (
            pre.repartition(4 * session_parallelism(df), "pk")
            .groupBy("pk")
            .agg(F.count(F.lit(1)).alias("inter"))
            .select(
                # integer div/mod, NOT '/', which is double division and
                # loses exactness above 2^53
                (F.expr(f"pk div {span}") + F.lit(mn)).alias("id_a"),
                (F.col("pk") % F.lit(span) + F.lit(mn)).alias("id_b"),
                "inter",
            )
        )
    else:
        pairs = (
            pre.repartition(4 * session_parallelism(df), "id_a", "id_b")
            .groupBy("id_a", "id_b")
            .agg(F.count(F.lit(1)).alias("inter"))
        )
    out = (
        pairs.join(sizes.withColumnsRenamed({"id": "id_a", "sz": "sz_a"}), "id_a")
        .join(sizes.withColumnsRenamed({"id": "id_b", "sz": "sz_b"}), "id_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 6),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


def minhash_signatures(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
) -> DataFrame:
    """MinHash: h_i(x) = (a_i*x + b_i) mod P over shingle hashes, min per
    i. Explode + 64 parallel `min` aggregations: the shingle hash (md5)
    is computed ONCE per shingle, each permutation is cheap modular
    arithmetic, and Spark's partial hash aggregation combines map-side —
    the shuffle carries one 64-slot row per doc per task. (A pure
    array-expression variant re-evaluated the md5 per permutation —
    64× the hash cost; measured 30× slower.)"""
    from ilogtail_spark.partitioning import spread_for_expansion

    df = spread_for_expansion(df, id_col)
    sh = df.select(
        F.col(id_col), F.explode(_shingles(F.col(text_col), n)).alias("sh")
    ).withColumn("h", _hash32(F.col("sh")))
    # md5-derived independent (a_i, b_i) — see minhash_coeffs. h is
    # reduced mod P BEFORE the multiply: a_i < 2^31 and h < 2^32, so the
    # raw product can overflow signed 64; a_i * (h mod P) < 2^62 cannot.
    mins = [
        F.min((F.lit(a) * (F.col("h") % _P) + F.lit(b)) % _P).alias(f"h{i}")
        for i, (a, b) in enumerate(minhash_coeffs(num_hashes))
    ]
    agg = sh.groupBy(id_col).agg(*mins)
    return agg.select(
        F.col(id_col), F.array(*[F.col(f"h{i}") for i in range(num_hashes)]).alias("minhash")
    )


def minhash_bands(
    sigs: DataFrame,
    *,
    id_col: str = "doc_id",
    bands: int = 16,
    rows_per_band: int = 4,
) -> DataFrame:
    """The banded LSH relation (id, band, bucket) from a signature table.
    It carries only the md5 bucket key — the 64-slot signature array
    stays OUT of the self-join shuffle; signatures are joined back only
    for the deduped candidate pairs (≪ banded rows). Exposed separately
    so the bucket-size histogram audit (tests/tools) can inspect the
    distribution any new hash family produces — the codebase's standing
    LSH lesson (SCALE.md): bucket skew is how a correlated family shows
    itself, and a groupBy histogram is the cheap detector."""
    return sigs.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.md5(
                    F.array_join(
                        F.slice("minhash", b * rows_per_band + 1, rows_per_band), ","
                    )
                ),
            )
        ).alias("band", "bucket"),
    )


def minhash_lsh_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    threshold: float = 0.8,
) -> DataFrame:
    """MinHash + banded LSH near-dup candidates, verified by signature
    similarity. The 100 TB path: docs shuffle once on (band, bucket-hash);
    only same-bucket docs pair up. rows = docs × bands, never docs²."""
    rows_per_band = num_hashes // bands
    sigs = minhash_signatures(
        df, id_col=id_col, text_col=text_col, n=n, num_hashes=num_hashes
    ).localCheckpoint(eager=False)  # 3 consumers; blocks GC'd with the plan
    # banded is consumed TWICE (both sides of the bucket self-join);
    # unchecked, the 16×md5 band projection runs once per side.
    # Checkpointing it mirrors production (band membership is stored at
    # ingest next to the signature) — measured 2.8 s → 2.2 s at
    # 10x-scaled sf0.1. (A flat 64-term mh_a[i]==mh_b[i] sum for the
    # verify estimate was tried instead of the zip_with and measured 5×
    # WORSE — the array-extract cascade defeats codegen.)
    banded = minhash_bands(sigs, id_col=id_col, bands=bands,
                           rows_per_band=rows_per_band).localCheckpoint(eager=False)
    cand_ids = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bucket") == F.col("b.bucket"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .dropDuplicates(["id_a", "id_b"])
    )
    sa = sigs.select(F.col(id_col).alias("id_a"), F.col("minhash").alias("mh_a"))
    sb = sigs.select(F.col(id_col).alias("id_b"), F.col("minhash").alias("mh_b"))
    cand = cand_ids.join(sa, "id_a").join(sb, "id_b")
    est = F.size(
        F.filter(
            F.zip_with("mh_a", "mh_b", lambda x, y: (x == y).cast("int")),
            lambda v: v == 1,
        )
    ) / F.lit(float(num_hashes))
    return (
        cand.withColumn("est_jaccard", F.round(est, 6))
        .filter(F.col("est_jaccard") >= threshold)
        .select("id_a", "id_b", "est_jaccard")
    )


def dedup_index(
    corpus: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    banded: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The WRITE-TIME dedup index for continuous ingestion — the
    corpus-side state an incremental pipeline materializes once per
    snapshot instead of re-scanning 100 TB per arriving batch:

      * exact index — distinct ``md5(text)``;
      * near-dup index — the distinct (band, bucket) membership of the
        banded MinHash relation (`minhash_bands`).

    At scale both persist as parquet partitioned/bucketed on the hash
    key, so each batch's probe join co-locates without shuffling the
    index (same role as `assign_centroids` for IVF and
    `bm25_corpus_stats` for BM25). Returned as DataFrames here; write
    them wherever the pipeline keeps state.

    ``banded`` optionally supplies the corpus rows of a PRE-COMPUTED
    `minhash_bands` relation (columns id/band/bucket, same n/num_hashes/
    bands parameters). A continuous-ingestion pipeline computes each
    document's signature exactly once — at ingest — and every later
    consumer reads the stored relation; passing it here mirrors that
    and lets one signature pass serve the index build, the batch
    probes, and the index extension in the same job (the
    incremental_dedup_cycle query went 7.0 s → one shared pass)."""
    exact = corpus.select(F.md5(F.col(text_col)).alias("h")).distinct()
    if banded is None:
        banded = minhash_bands(
            minhash_signatures(
                corpus, id_col=id_col, text_col=text_col,
                n=n, num_hashes=num_hashes,
            ),
            id_col=id_col,
            bands=bands,
            rows_per_band=num_hashes // bands,
        )
    bucket_members = banded.select("band", "bucket").distinct()
    return exact, bucket_members


def extend_dedup_index(
    exact_index: DataFrame,
    band_index: DataFrame,
    new_docs: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    banded: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame]:
    """Fold newly-ACCEPTED documents into a `dedup_index` — the state
    update half of the incremental cycle (probe with
    `incremental_dedup`, keep the clean rows, extend the index with
    exactly those, repeat next batch). Parameters must match the
    index's build parameters (`plans/snapshot.py` persists them).

    Deliberately a pure APPEND — union WITHOUT distinct: the probe
    joins are membership tests (`incremental_dedup` distincts the exact
    side and distincts matched ids after the band join), so duplicate
    index rows cannot change any flag, and skipping the dedup keeps the
    update O(batch) — no re-shuffle of the accumulated corpus-sized
    index, matching how the bucketed snapshot grows by appending files.
    Correctness pinned by the `incremental_dedup_cycle` oracle, which
    recomputes membership over the unioned corpus directly."""
    ex_delta, bk_delta = dedup_index(
        new_docs, id_col=id_col, text_col=text_col,
        n=n, num_hashes=num_hashes, bands=bands, banded=banded,
    )
    return exact_index.union(ex_delta), band_index.union(bk_delta)


def incremental_dedup(
    batch: DataFrame,
    exact_index: DataFrame,
    band_index: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    num_hashes: int = 64,
    bands: int = 16,
    banded: DataFrame | None = None,
) -> DataFrame:
    """Flag each INCOMING document against a `dedup_index` snapshot:
    ``exact_dup`` (md5 membership in the corpus) and ``near_dup``
    (shares ≥ 1 LSH band bucket with any corpus document — the banded
    MinHash decision, same s-curve as `minhash_lsh_pairs` candidacy).
    `batch.filter('NOT exact_dup AND NOT near_dup')` is what a
    continuous-ingestion pipeline appends to the corpus.

    Scale shape: only the BATCH computes shingles/signatures — the
    corpus contributes pre-materialized hash relations, probed by two
    equi-joins on the hash key. Per-batch cost is O(batch), not
    O(corpus); the batch never self-joins and the index never
    recomputes. An exact duplicate is necessarily a band-bucket match
    too, so ``exact_dup`` implies ``near_dup``."""
    ex = exact_index.select(F.col("h").alias("__h__")).distinct().withColumn(
        "__e__", F.lit(1)
    )
    # ``banded`` (optional): the BATCH rows of a pre-computed
    # `minhash_bands` relation — the stored-at-ingest signature shape,
    # see dedup_index's docstring
    bb = banded if banded is not None else minhash_bands(
        minhash_signatures(
            batch, id_col=id_col, text_col=text_col,
            n=n, num_hashes=num_hashes,
        ),
        id_col=id_col,
        bands=bands,
        rows_per_band=num_hashes // bands,
    )
    near = (
        bb.join(band_index.select("band", "bucket"), ["band", "bucket"])
        .select(F.col("id").alias(id_col))
        .distinct()
        .withColumn("__n__", F.lit(1))
    )
    return (
        batch.withColumn("__h__", F.md5(F.col(text_col)))
        .join(ex, "__h__", "left")
        .join(near, id_col, "left")
        .select(
            *[F.col(c) for c in batch.columns],
            F.col("__e__").isNotNull().alias("exact_dup"),
            F.col("__n__").isNotNull().alias("near_dup"),
        )
    )


def simhash(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = 32,
) -> DataFrame:
    """SimHash over tokens: per bit, sum(+1/-1 by token-hash bit),
    sign → bit. Same scale shape as `minhash_signatures`: explode +
    `bits` parallel map-side-combinable sum aggregates, so the token
    hash (md5) is computed ONCE per token. (The previous array-HOF form
    re-evaluated the md5 once PER BIT — Catalyst does not CSE across
    higher-order-function lambdas — which made wider hashes quadratic
    in practice: 62 bits × 40 tokens × corpus.) `bits` ≤ 60 keeps every
    intermediate, including the assembled hash, in signed-long range —
    and the TOKEN hash must be at least as wide as the simhash, so
    widths above 32 switch to a 60-bit md5-prefix hash (15 hex chars;
    a 32-bit token hash would leave the high vote bits constant,
    collapsing the banded join's upper bands into single buckets)."""
    if not 1 <= bits <= 60:
        raise ValueError(f"bits must be in [1, 60], got {bits}")
    from ilogtail_spark.partitioning import spread_for_expansion

    df = spread_for_expansion(df, id_col)
    tok_hash = (
        _hash32(F.col("tok"))
        if bits <= 32
        else F.conv(F.substring(F.md5(F.col("tok")), 1, 15), 16, 10).cast("long")
    )
    ex = df.select(
        F.col(id_col), F.explode(tokens(F.col(text_col))).alias("tok")
    ).withColumn("h", tok_hash)
    votes = [
        F.sum(
            F.when(
                F.col("h").bitwiseAND(F.lit(2**i).cast("long")) != 0, 1
            ).otherwise(-1)
        ).alias(f"v{i}")
        for i in range(bits)
    ]
    per_doc = ex.groupBy(id_col).agg(*votes)
    sim = reduce(
        lambda acc, i: acc
        + F.when(F.col(f"v{i}") > 0, F.lit(2**i).cast("long")).otherwise(
            F.lit(0).cast("long")
        ),
        range(bits),
        F.lit(0).cast("long"),
    )
    return per_doc.select(F.col(id_col), sim.alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    max_hamming: int = 6,
    band_bits: int = 4,
    bits: int = 32,
) -> DataFrame:
    """SimHash near-dup candidates: band the hash into (bits/band_bits)
    keys; by pigeonhole, any pair within hamming distance < nbands shares
    at least one identical band — join per band, verify true hamming ≤
    max_hamming. The join shuffles on (band, key): O(docs × bands).

    Completeness REQUIRES max_hamming < nbands (a pair differing in every
    band would never share one) — validated here; the defaults
    (band_bits=4 → 8 bands) cover the default max_hamming=6.

    SCALE: per-band join cost is Σ bucket², and a band has only
    2^band_bits buckets — the 32/4 default is a small-corpus setting
    (≲10^4 docs per partition of the key space). At 10^5-10^6+ docs use
    the wide form ``bits=60, band_bits=15, max_hamming=3``:
    4 bands × 32768 buckets keeps buckets tiny (SCALE.md has the
    measured 50k/1M numbers)."""
    h = simhash(df, id_col=id_col, text_col=text_col, bits=bits)
    nbands = bits // band_bits
    if max_hamming >= nbands:
        raise ValueError(
            f"max_hamming={max_hamming} needs at least {max_hamming + 1} bands "
            f"for pigeonhole completeness, got {nbands} (bits={bits}, "
            f"band_bits={band_bits}) — lower band_bits or max_hamming"
        )
    banded = h.select(
        F.col(id_col).alias("id"),
        F.col("simhash"),
        # integer shift+mask, NOT division: double division silently
        # loses bits above 2^53, which would corrupt band keys for
        # wide (62-bit) hashes and break pigeonhole completeness
        F.posexplode(
            F.array(
                *[
                    F.shiftrightunsigned(F.col("simhash"), b * band_bits)
                    .bitwiseAND(F.lit(2**band_bits - 1))
                    for b in range(nbands)
                ]
            )
        ).alias("band", "key"),
    )
    cand = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.key") == F.col("b.key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.col("a.simhash").alias("h_a"),
            F.col("b.simhash").alias("h_b"),
        )
        .dropDuplicates(["id_a", "id_b"])
    )
    hamming = F.bit_count(F.col("h_a").bitwiseXOR(F.col("h_b")))
    return (
        cand.withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def connected_components(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    *,
    max_iter: int = 50,
) -> DataFrame:
    """Near-dup CLUSTERS from a candidate-pair graph: (node, cluster_id)
    where cluster_id = min node id in the connected component — the step
    that turns pairwise near-dup hits (MinHash/SimHash/embedding LSH)
    into keep-one-per-cluster dedup decisions.

    Iterative min-label propagation: each round every node takes the min
    label among itself and its neighbors; converges in O(diameter)
    rounds (near-dup components are cliques or short chains, so
    typically 2-3). Each round is one shuffle join on the node key plus
    a map-side-combinable min-aggregate; labels are localCheckpoint'ed
    so plan lineage stays O(1) instead of growing per round. For
    high-diameter graphs (chains, meshes) or 10^9+ edges use
    `connected_components_star` — identical output, O(log n) rounds.
    """
    a, b = F.col(a_col), F.col(b_col)
    edges = (
        pairs.select(a.alias("src"), b.alias("dst"))
        .unionAll(pairs.select(b.alias("src"), a.alias("dst")))
        .distinct()
    )
    edges = edges.localCheckpoint(eager=True)
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    # labels start at node id and only ever DECREASE (min-propagation),
    # so the label sum is strictly decreasing until the fixpoint — a
    # cheap scalar aggregate detects convergence without the per-round
    # old-vs-new join a changed-count would need. The shortcut is gated
    # on the label column's SCHEMA type (integral/decimal), never on a
    # runtime cast probe: STRING ids that happen to parse as numbers
    # would pass a try_cast probe, but their labels decrease
    # LEXICOGRAPHICALLY ('9' → '10' is numerically +1), so simultaneous
    # changes can cancel in the decimal sum and falsely signal
    # convergence — and mixed numeric/non-numeric ids would silently
    # drop the NULL-cast labels from the sum. All non-integral label
    # types use the explicit changed-count join per round — one more
    # shuffle, but correct for any orderable type. Detecting the
    # fixpoint costs one confirming round, so convergence needs
    # diameter+1 iterations — max_iter is sized accordingly.
    from pyspark.sql import types as T

    label_type = labels.schema["label"].dataType
    numeric = isinstance(
        label_type,
        (T.ByteType, T.ShortType, T.IntegerType, T.LongType, T.DecimalType),
    )

    def label_sum(lb: DataFrame):
        return lb.agg(F.sum(F.col("label").cast("decimal(38,0)"))).first()[0]

    prev = labels
    prev_sum = label_sum(labels) if numeric else None
    converged = False
    for _ in range(max_iter):
        # shuffle_hash: both sides are checkpointed RDD scans with
        # unknown stats, so the planner defaults to sort-merge — two
        # per-round sorts of the edge and label relations for a pure
        # equi-lookup. A per-partition hash build of the label side is
        # strictly cheaper at any scale (labels ≤ nodes, never wider
        # than the edge list) and cannot OOM the driver.
        neighbor_min = (
            edges.join(labels.hint("shuffle_hash"), edges["src"] == labels["node"])
            .select(F.col("dst").alias("node"), F.col("label"))
            .unionAll(labels)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
        )
        labels = neighbor_min.localCheckpoint(eager=True)
        if numeric:
            new_sum = label_sum(labels)
            converged = new_sum == prev_sum
            prev_sum = new_sum
        else:
            converged = (
                labels.alias("n")
                .join(prev.alias("p"), "node")
                .filter(F.col("n.label") != F.col("p.label"))
                .isEmpty()
            )
        prev = labels
        if converged:
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds — raise max_iter (component diameter exceeds it) or use "
            "connected_components_star for high-diameter graphs"
        )
    return labels.select(F.col("node"), F.col("label").alias("cluster_id"))


def dedup_keep_one(
    docs: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """The KEEP DECISION that turns near-dup clusters into a deduped
    corpus: every document keeps a `keep` flag — true for the cluster
    representative (the minimum id, i.e. the cluster_id itself) and for
    every unclustered document. This is the step a training-data
    pipeline actually materializes after MinHash/SimHash + connected
    components: `docs.filter('keep')` is the deduplicated corpus, and
    the (doc, cluster, keep) triple is the provenance record.

    One left join on the doc id, strategy left to AQE: clusters is
    O(near-duplicate docs) — usually ≪ corpus, in which case AQE
    broadcasts it at runtime and the corpus never shuffles, but at a
    web-scale 20-30% duplication rate it is billions of rows, past any
    broadcast ceiling. A FORCED broadcast hint would make that case
    FAIL outright instead of degrading to a shuffle join — so no hint:
    AQE measures the built side and picks broadcast exactly when it
    fits (tests/test_functions.py pins both regimes)."""
    c = clusters.select(
        F.col("node").alias(id_col), F.col("cluster_id").alias("__cluster__")
    )
    return (
        docs.join(c, id_col, "left")
        .withColumn(
            "keep",
            F.col("__cluster__").isNull() | (F.col("__cluster__") == F.col(id_col)),
        )
        .withColumn("cluster_id", F.coalesce(F.col("__cluster__"), F.col(id_col)))
        .drop("__cluster__")
    )


def duplicate_spans(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = 8,
    min_docs: int = 2,
) -> DataFrame:
    """CROSS-DOCUMENT duplicated substring spans — the windowed-hash
    approximation of exact substring dedup (Lee et al. 2022,
    "Deduplicating Training Data Makes Language Models Better", which
    uses a corpus suffix array; a suffix array is not a distributed
    shape, but any duplicated substring of ≥ k tokens necessarily
    contains a duplicated k-token window, so windowed hashing finds the
    same regions at k-token resolution). Returns per-document maximal
    runs of duplicated windows as (doc_id, span_start, span_end,
    n_windows) in token offsets — the spans a curation pipeline cuts or
    down-weights, rather than dropping whole near-identical documents.

    Shape at 100 TB: one explode O(total tokens) → map-side-combinable
    per-hash aggregate → hash join back → per-doc run collapse (one
    doc-keyed window). Never materializes doc pairs. Windows repeated
    only WITHIN one document are not flagged (`min_docs` counts
    distinct docs) — self-repetition is `textstats.repetition`'s job.
    For the default ``min_docs=2`` the distinct-doc test is
    ``min(id) != max(id)`` — two map-side-combinable scalars per hash,
    instead of countDistinct's expanded (hash, id) shuffle."""
    from ilogtail_spark.partitioning import spread_for_expansion

    df = spread_for_expansion(df, id_col)
    toks = tokens(F.col(text_col))
    # window strings via the shared zip_with k-gram builder (one concat
    # per element instead of a slice+array_join allocation — see
    # _kgrams), hashed in place; position i is the array index, exactly
    # the old sequence(0, L−k) index. The relation feeds BOTH the
    # dup-hash aggregate and the join back — checkpointed so the
    # window-hash projection (the per-row dominant cost) runs once.
    wins = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(
            F.transform(_kgrams(toks, k), lambda s: _hash32(s))
        ).alias("pos", "h"),
    ).localCheckpoint(eager=False)
    if min_docs <= 2:
        dup_h = (
            wins.groupBy("h")
            .agg(F.min("id").alias("__lo__"), F.max("id").alias("__hi__"))
            .filter(F.col("__lo__") != F.col("__hi__"))
            .select("h")
        )
    else:
        dup_h = (
            wins.groupBy("h")
            .agg(F.countDistinct("id").alias("nd"))
            .filter(F.col("nd") >= min_docs)
            .select("h")
        )
    dw = wins.join(dup_h, "h")
    from pyspark.sql.window import Window

    run = F.col("pos") - F.row_number().over(
        Window.partitionBy("id").orderBy("pos")
    )
    return (
        dw.withColumn("__run__", run)
        .groupBy(F.col("id").alias(id_col), F.col("__run__"))
        .agg(
            F.min("pos").alias("span_start"),
            (F.max("pos") + F.lit(k - 1)).alias("span_end"),
            F.count(F.lit(1)).alias("n_windows"),
        )
        .drop("__run__")
    )


def line_dedup(
    df: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
    min_count: int = 2,
    keep_first: bool = True,
    normalize: bool = False,
    out: str = "text",
) -> DataFrame:
    """CCNet-style corpus-wide duplicate-LINE removal with document
    reassembly (Wenzek et al. 2019 dedup paragraphs by hash across the
    whole shard; C4 removes repeated lines). A line occurring
    ``min_count``+ times anywhere in the corpus is dropped from every
    document — except, when ``keep_first``, its globally-first
    occurrence (smallest ``(doc_id, pos)``), so exactly one copy
    survives. Documents reassemble in original line order; a document
    whose every line was removed disappears (it carried no novel text).

    Shape at 100 TB: explode → ONE map-side-combinable aggregate per
    line hash (count + min-(id,pos) — hot lines like empty strings or
    boilerplate collapse to two scalars per map task, so the shuffle
    never sees the raw copies) → equi-join back, where the build side
    holds only hashes with count ≥ min_count (usually a small fraction;
    AQE broadcasts it when it fits and skew-splits when it does not) →
    one doc-keyed reassembly agg. Never doc pairs, never a window over
    the raw line stream keyed by line hash (that WOULD put every copy
    of a hot line on one task)."""
    line_raw = F.col("line")
    norm = F.trim(F.lower(line_raw)) if normalize else line_raw
    # F.split treats its pattern as a Java regex while array_join below
    # re-joins with the LITERAL sep — escape the split side so a caller's
    # '.'/'|' separator splits literally and the round-trip stays exact
    # (the default '\n' has no metacharacters, which masked this)
    import re as _re

    # the exploded line relation feeds BOTH the dup-stats aggregate and
    # the join back; checkpointed so the split+explode+md5 projection
    # runs once (the dup_spans/banded convention)
    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), _re.escape(sep))).alias("pos", "line"),
    ).withColumn("k", F.md5(norm)).localCheckpoint(eager=False)
    dup_stats = (
        lines.groupBy("k")
        .agg(
            F.count(F.lit(1)).alias("__cnt__"),
            F.min(F.struct("id", "pos")).alias("__first__"),
        )
        .filter(F.col("__cnt__") >= min_count)
    )
    joined = lines.join(dup_stats, "k", "left")
    keep = F.col("__cnt__").isNull()
    if keep_first:
        keep = keep | (
            (F.col("id") == F.col("__first__.id"))
            & (F.col("pos") == F.col("__first__.pos"))
        )
    return (
        joined.filter(keep)
        .groupBy(F.col("id").alias(id_col))
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "line"))),
                    lambda x: x["line"],
                ),
                sep,
            ).alias(out)
        )
    )


def corpus_diff(
    old: DataFrame,
    new: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    include_unchanged: bool = False,
) -> DataFrame:
    """Diff two corpus snapshots by content hash — the dataset-versioning
    primitive between curation runs: which documents were added, removed,
    or changed since the last snapshot. Output is (doc_id, status,
    old_md5, new_md5) with status ∈ {'added','removed','changed'
    [,'unchanged']}; `include_unchanged=False` (default) bounds the
    output to the delta, which is what an incremental re-processing run
    consumes (re-embed only 'added'+'changed', retire 'removed').

    Shape at 100 TB: each side reduces to (id, md5) IN the scan
    projection — the wide text column never reaches the shuffle — then
    ONE full-outer sort-merge join on the id. Persisting snapshots as
    parquet bucketed by the id (plans/snapshot.py discipline) makes the
    join exchange-free on re-runs."""
    o = old.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("old_md5")
    )
    n = new.select(
        F.col(id_col).alias("id"), F.md5(F.col(text_col)).alias("new_md5")
    )
    j = o.join(n, "id", "full_outer")
    status = (
        F.when(F.col("old_md5").isNull(), F.lit("added"))
        .when(F.col("new_md5").isNull(), F.lit("removed"))
        .when(F.col("old_md5") != F.col("new_md5"), F.lit("changed"))
        .otherwise(F.lit("unchanged"))
    )
    out = j.select(
        F.col("id").alias(id_col), status.alias("status"), "old_md5", "new_md5"
    )
    if not include_unchanged:
        out = out.filter(F.col("status") != "unchanged")
    return out


def ngram_contamination(
    train: DataFrame,
    test: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_shared: int = 1,
) -> DataFrame:
    """Train/test decontamination (the overlap check of Lee et al. 2022
    / GPT-3 appendix C, standard before training on web corpora): flag
    every TRAIN document sharing ≥ `min_shared` distinct token n-grams
    with any TEST document.

    Inverted-index anti-contamination join: explode distinct n-gram
    hashes on both sides, equi-join on the hash, count distinct shared
    grams per (train, test) pair. The join shuffles O(docs × grams)
    hashes — never materializes docs² — and the test side is tiny
    (benchmark suites, the operator's contract), so it carries an
    explicit broadcast hint: the train side is then NEVER shuffled —
    the whole pass is scan → explode → broadcast-probe → partial agg in
    one stage, and the only exchange carries the already-reduced
    (train, test, count) groups. The train scan is spread to the
    session's cores first (`spread_for_expansion`, gated on actual
    split count) because the explode+probe stage is row-expanding
    CPU work that would otherwise inherit a small fixture's 1-split
    parallelism. Returns (train_id, test_id, shared_ngrams), one row
    per contaminated pair.
    """
    from ilogtail_spark.partitioning import spread_for_expansion

    def grams(df: DataFrame, out: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out),
            F.explode(
                F.array_distinct(
                    F.transform(_shingles(F.col(text_col), n), _hash32)
                )
            ).alias("g"),
        )

    tr = grams(spread_for_expansion(train, id_col), "train_id")
    te = grams(test, "test_id")
    return (
        tr.join(F.broadcast(te), "g")
        .groupBy("train_id", "test_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= min_shared)
    )


def bloom_bitmap(
    test: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
) -> DataFrame:
    """The (word, bits) Bloom bitmap of the TEST side's distinct token
    n-gram hashes — the build stage of `bloom_contamination`, exposed
    separately so a snapshot can materialize it once per held-out-set
    revision (`plans/snapshot.py`) and every later decontamination pass
    probes the reloaded parquet instead of re-scanning the test corpus.
    Always at most ``ceil(n_bits/64)`` rows (128 KiB at the default) —
    bounded by the PARAMETER, not the data. The probe side must use the
    same (n, n_bits, n_hashes); `bloom_contamination(bitmap=...)`
    re-derives nothing, so persist the parameters with the bitmap."""

    def pos(g: Column, i: int) -> Column:
        return F.pmod(F.xxhash64(g, F.lit(i)), F.lit(n_bits))

    return (
        test.select(
            F.explode(
                F.array_distinct(
                    F.transform(_shingles(F.col(text_col), n), _hash32)
                )
            ).alias("g")
        )
        .distinct()
        .select(
            F.explode(
                F.array(*[pos(F.col("g"), i) for i in range(n_hashes)])
            ).alias("pos")
        )
        .select(
            F.shiftrightunsigned(F.col("pos"), 6).alias("word"),
            F.expr(
                "shiftleft(CAST(1 AS BIGINT), CAST(pos % 64 AS INT))"
            ).alias("m"),
        )
        .groupBy("word")
        .agg(F.bit_or("m").alias("bits"))
    )


def bloom_contamination(
    train: DataFrame,
    test: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_shared: int = 1,
    n_bits: int = 1 << 20,
    n_hashes: int = 5,
    bitmap_literal: bool = False,
    bitmap: DataFrame | None = None,
) -> DataFrame:
    """`ngram_contamination` behind a distributed Bloom pre-filter —
    IDENTICAL output by construction (Bloom filters have no false
    negatives; false positives only reach the exact confirm join, where
    they cost work, never correctness), different scale path.

    The plain inverted-index join ships EVERY train gram into the
    shuffle even though almost none overlap the test set. Here the test
    side is first compressed into an `n_bits`-bit Bloom bitmap:

      * build — each distinct test gram sets `n_hashes` salted-xxhash64
        bit positions; positions fold into 64-bit words via a map-side-
        combinable `bit_or` aggregate, one O(n_bits/64)-row shuffle.
        The grams themselves never shuffle.
      * probe — the (word, bits) rows fold into ONE dense
        ``array<long>`` row (map_from_entries + a sequence fill — still
        bounded by the PARAMETER at n_bits/64 longs, 128 KiB default),
        that single row broadcasts, and every train gram evaluates all
        `n_hashes` membership tests as one fused whole-stage-codegen
        predicate over the array column. One broadcast of one bounded
        row replaces the former chain of `n_hashes` broadcast hash
        joins (each of which re-materialized rows and carried its own
        BroadcastExchange; measured 35.4 s → see OPTIMIZATION_r08.md).
      * confirm — survivors (true overlaps + ~fpp of train grams) run
        the exact `ngram_contamination` join.

    At web scale this turns "shuffle every gram of a 100 TB corpus"
    into "scan + broadcast-probe, shuffle only the ~0.1% candidate
    grams". fpp ≈ (1 − e^(−n_hashes·G/n_bits))^n_hashes for G distinct
    test grams; size `n_bits` ≈ 10 bits/gram for <1% at n_hashes=5.

    With ``bitmap_literal=True`` the materialized bitmap is collected
    into a dense ``array<long>`` PLAN LITERAL (n_bits/64 longs — 128
    KiB at the default, a bounded driver pull like `bm25_corpus_stats`)
    and all `n_hashes` probes become ONE fused `element_at`+mask
    projection: zero probe joins, identical survivors (tested).
    Measured at 1M docs the JOIN form is FASTER (21.6 s vs 34.3 s
    warm): the broadcast probes run in whole-stage codegen over unsafe
    rows while the literal path pays interpreted array-literal
    indexing and a second hash evaluation per probe — so joins stay
    the default; the literal form exists for plan-shape constraints
    (e.g. join-count-limited downstream tooling).

    Pass ``bitmap`` (a `bloom_bitmap` relation, e.g. reloaded from a
    `plans/snapshot.py` snapshot built with the SAME n/n_bits/n_hashes)
    to skip the build entirely — the test corpus is then never scanned
    for the filter stage, only for the final exact confirm join."""

    from ilogtail_spark.partitioning import spread_for_expansion

    def grams(df: DataFrame, out: str) -> DataFrame:
        return df.select(
            F.col(id_col).alias(out),
            F.explode(
                F.array_distinct(
                    F.transform(_shingles(F.col(text_col), n), _hash32)
                )
            ).alias("g"),
        )

    def pos(g: Column, i: int) -> Column:
        return F.pmod(F.xxhash64(g, F.lit(i)), F.lit(n_bits))

    # the explode + n_hashes-probe stage is row-expanding CPU work: fan
    # the train scan out to the session's cores when the source has
    # fewer splits (a no-op when the scan already has enough splits)
    tr = grams(spread_for_expansion(train, id_col), "train_id")
    te = grams(test, "test_id")

    if bitmap is None:
        # consumed exactly once (by the dense fold below), so no
        # checkpoint is needed — the former eager localCheckpoint
        # existed only because each of the n_hashes probe JOINS
        # re-broadcast the relation separately.
        bitmap = bloom_bitmap(
            test, id_col=id_col, text_col=text_col,
            n=n, n_bits=n_bits, n_hashes=n_hashes,
        )

    if bitmap_literal:
        # ceil sizing: bit positions are pmod(hash, n_bits), so the top
        # word index is (n_bits-1)>>6 — an n_bits//64 array would raise
        # on fill (or worse, F.get returns NULL on an out-of-range probe
        # and silently DROPS true candidates, breaking the no-false-
        # negative contract) whenever n_bits is not a multiple of 64
        words = [0] * ((n_bits + 63) // 64)
        for row in bitmap.collect():  # bounded: n_bits/64 rows max
            words[row["word"]] = row["bits"]
        arr = F.lit(words)
        hit = None
        for i in range(n_hashes):
            p = pos(F.col("g"), i)
            probe = (
                F.get(arr, F.shiftrightunsigned(p, 6).cast("int")).bitwiseAND(
                    F.expr(
                        "shiftleft(CAST(1 AS BIGINT), "
                        f"CAST(pmod(xxhash64(g, {i}), {n_bits}) % 64 AS INT))"
                    )
                )
                != 0
            )
            hit = probe if hit is None else (hit & probe)
        cand = tr.filter(hit)
    else:
        # fold the (word, bits) rows into ONE dense array<long> row —
        # O(n_bits/64) values, bounded by the parameter — broadcast
        # that single row, and evaluate all n_hashes membership tests
        # as one fused codegen predicate. Missing words (no bit set in
        # that 64-bit span) read as 0 via the coalesce fill.
        n_words = (n_bits + 63) // 64
        dense = (
            bitmap.groupBy()
            .agg(
                F.map_from_entries(
                    F.collect_list(F.struct("word", "bits"))
                ).alias("__m__")
            )
            .select(
                F.transform(
                    F.sequence(
                        F.lit(0).cast("bigint"),
                        F.lit(n_words - 1).cast("bigint"),
                    ),
                    lambda w: F.coalesce(
                        F.element_at(F.col("__m__"), w),
                        F.lit(0).cast("bigint"),
                    ),
                ).alias("__bm__")
            )
        )
        hit = None
        for i in range(n_hashes):
            p = pos(F.col("g"), i)
            probe = (
                F.get(F.col("__bm__"), F.shiftrightunsigned(p, 6).cast("int"))
                .bitwiseAND(
                    # F.shiftleft only takes a Python-int shift; the SQL
                    # function accepts a column
                    F.call_function(
                        "shiftleft",
                        F.lit(1).cast("bigint"),
                        F.pmod(p, F.lit(64)).cast("int"),
                    )
                )
                != 0
            )
            hit = probe if hit is None else (hit & probe)
        cand = tr.join(F.broadcast(dense)).filter(hit).drop("__bm__")

    # the test side is the bounded held-out suite (the operator's
    # contract, same as `ngram_contamination`): broadcast it so the
    # surviving train grams are never shuffled — the only exchange in
    # the whole plan then carries the already-aggregated pair counts
    return (
        cand.join(F.broadcast(te), "g")
        .groupBy("train_id", "test_id")
        .agg(F.count(F.lit(1)).alias("shared_ngrams"))
        .filter(F.col("shared_ngrams") >= min_shared)
    )


def _sym(edges: DataFrame) -> DataFrame:
    """Undirected neighbor view: every edge in both directions."""
    return edges.unionAll(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )


def _large_star(edges: DataFrame) -> DataFrame:
    """Large-star operation (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SOCC'14 §3): every node connects its STRICTLY
    LARGER neighbors to the minimum of its closed neighborhood. Each
    round is one groupBy + one join, both keyed on the node — at scale
    the shuffle carries O(edges), never O(n²)."""
    nbr = _sym(edges)
    mins = nbr.groupBy("u").agg(F.min("v").alias("mv"))
    mins = mins.select("u", F.least("u", "mv").alias("m"))
    return (
        nbr.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("m").alias("u"), F.col("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(edges: DataFrame) -> DataFrame:
    """Small-star operation: every node connects its smaller neighbors
    (and itself) to the minimum of its closed neighborhood."""
    nbr = _sym(edges)
    mins = nbr.groupBy("u").agg(F.least(F.min("v"), F.col("u")).alias("m"))
    smaller = (
        nbr.filter(F.col("v") < F.col("u"))
        .join(mins, "u")
        .select(F.col("m").alias("u"), F.col("v"))
    )
    own = mins.filter(F.col("u") > F.col("m")).select(
        F.col("m").alias("u"), F.col("u").alias("v")
    )
    return (
        smaller.unionAll(own).filter(F.col("u") != F.col("v")).distinct()
    )


def connected_components_star(
    pairs: DataFrame,
    a_col: str = "id_a",
    b_col: str = "id_b",
    *,
    max_iter: int = 50,
    stats: dict | None = None,
) -> DataFrame:
    """Connected components via alternating large-star/small-star
    contraction (Kiveris et al., SOCC'14) — same signature and output as
    `connected_components`, O(log n) rounds instead of O(diameter): the
    swap-in for high-diameter graphs (chains, meshes) where plain
    min-label propagation needs one driver round per hop. Each round is
    two groupBys + two joins keyed on node ids; `localCheckpoint` keeps
    lineage O(1). Converged when a large-star+small-star pass leaves the
    edge set unchanged (the graph is then a forest of stars centered at
    component minima). Pass `stats={}` to receive the round count.
    """
    a, b = F.col(a_col), F.col(b_col)
    nodes = (
        pairs.select(a.alias("node"))
        .unionAll(pairs.select(b.alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    edges = (
        pairs.select(F.least(a, b).alias("u"), F.greatest(a, b).alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rounds = 0
    converged = edges.isEmpty()
    while not converged and rounds < max_iter:
        new_edges = _small_star(_large_star(edges)).localCheckpoint(eager=True)
        rounds += 1
        converged = (
            new_edges.count() == edges.count()
            and new_edges.exceptAll(edges).isEmpty()
        )
        edges = new_edges
    if stats is not None:
        stats["rounds"] = rounds
    if not converged:
        raise RuntimeError(
            f"connected_components_star did not converge within "
            f"max_iter={max_iter} rounds"
        )
    # stars: every non-center node's single neighbor IS the component
    # minimum; centers have no smaller neighbor
    nbr_min = _sym(edges).groupBy(F.col("u").alias("node")).agg(
        F.min("v").alias("nv")
    )
    return nodes.join(nbr_min, "node", "left").select(
        "node",
        F.least(F.col("node"), F.coalesce(F.col("nv"), F.col("node"))).alias(
            "cluster_id"
        ),
    )
