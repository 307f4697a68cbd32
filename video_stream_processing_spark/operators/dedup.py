"""Deduplication operators over ``documents`` — the training-data-pipeline
dedup family (driver north-star): exact hash dedup, MinHash+LSH near-dup,
and exact n-gram Jaccard similarity join.

Cross-engine determinism rule: every hash is md5 (present in both Spark
and DuckDB), and MinHash permutations are "min of md5(k || ':' || token)"
— lexicographic min over a salted cryptographic hash is a valid random
permutation and is bit-identical in both engines, so even the LSH
candidate-generation step is oracle-checkable (no probabilistic slack in
the differential test).

Scale posture (100 TB): all steps are shuffle-on-key DataFrame ops —
explode to (doc, token), aggregate signatures map-side, band-key
self-join (the only quadratic-risk step is per-bucket, bounded by band
collision rate), exact verification only on candidates. No driver-side
collection anywhere.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from video_stream_processing_spark.operators.parallelism import (
    ensure_parallelism as _ensure_parallelism,
)
from video_stream_processing_spark.operators.text import tokens_col

NUM_HASHES = 12
BAND_ROWS = 3  # 4 bands x 3 rows
JACCARD_THRESHOLD = 0.8
SHINGLE_K = 3  # Broder-style w-shingling; None => unigram token sets
# Kirsch-Mitzenmacher double hashing: perm_k = h1 + k * (h2 % P) with
# h1, h2 the two md5 halves — ONE md5 per shingle instead of NUM_HASHES.
# P < 2^50 keeps k * h2 + h1 < 2^61: no bigint overflow in either engine
# (Spark runs ANSI mode — overflow would THROW, not wrap).
_KM_PRIME = 1_125_899_906_842_597  # largest prime < 2^50


def exact_dedup_groups(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Exact dedup: md5-hash groupBy; keeper = min doc_id per hash
    (deterministic). One shuffle on the 128-bit hash — at 100 TB hash
    first so the shuffle key is fixed-width, not the document body."""
    return (
        docs.groupBy(F.md5(F.col(text_col)).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("keep_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


def _doc_tokens(
    docs: DataFrame, text_col: str, shingle_k: int | None = SHINGLE_K
) -> DataFrame:
    """Per-doc feature set: k-token shingles (default — the Broder
    MinHash construction) or unigram token sets (shingle_k=None).

    Shingling is what keeps LSH honest on low-vocabulary corpora: over a
    bounded vocab most documents contain nearly every WORD, so unigram
    sets (and therefore unigram MinHash signatures) collapse to a handful
    of distinct values and the band buckets degenerate toward all-pairs —
    measured 15.9 s -> 1.7 s at sf0.1 on this corpus's 31-word vocab when
    switching x02 to shingles (same effect x03 documents for the exact
    inverted-index join)."""
    from video_stream_processing_spark.operators.text import shingles

    feat = (
        shingles(text_col, shingle_k) if shingle_k else tokens_col(text_col)
    )
    return _ensure_parallelism(docs, "doc_id").select(
        "doc_id", F.array_sort(F.array_distinct(feat)).alias("toks")
    )


def _minhash_wide(
    docs: DataFrame,
    text_col: str = "text",
    num_hashes: int = NUM_HASHES,
    shingle_k: int | None = SHINGLE_K,
) -> DataFrame:
    """(doc_id, mh0..mh{n-1}): per-doc MinHash signature, one COLUMN per
    permutation.

    One explode to (doc, shingle), ONE md5 per shingle split into two
    60-bit halves, then every permutation min computed as a separate
    aggregate of the SAME groupBy(doc_id) (Kirsch-Mitzenmacher
    h1 + k*h2) — no k-explode, so the pre-shuffle row count is
    |shingles|, not |shingles| x num_hashes, and map-side combine leaves
    exactly one wide row per (partition, doc)."""
    # explode_outer + isnotnull-on-the-GENERATED-attribute instead of
    # explode: InferFiltersFromGenerate would synthesize a size>0 filter
    # whose pushdown substitutes the array's defining expression — the
    # whole tokenize/shingle chain then runs TWICE per row, once inside
    # a filter pushed below the spread exchange (r15 profile: 2.16 ->
    # 1.12 s on the minhash pipeline). Array elements are never null, so
    # the post-filter restores exact explode semantics.
    tok = (
        _doc_tokens(docs, text_col, shingle_k)
        .select("doc_id", F.explode_outer("toks").alias("w"))
        .where(F.col("w").isNotNull())
        .select("doc_id", F.md5("w").alias("m"))
    )
    halves = tok.select(
        "doc_id",
        F.conv(F.substring("m", 1, 15), 16, 10).cast("long").alias("h1"),
        (F.conv(F.substring("m", 17, 15), 16, 10).cast("long") % _KM_PRIME).alias("h2"),
    )
    aggs = [
        F.min(F.col("h1") + F.lit(k) * F.col("h2")).alias(f"mh{k}")
        for k in range(num_hashes)
    ]
    return halves.groupBy("doc_id").agg(*aggs)


def _band_buckets(
    wide: DataFrame, num_hashes: int = NUM_HASHES, band_rows: int = BAND_ROWS
) -> DataFrame:
    """(doc_id, band_id, band_key) straight from the wide signature: each
    band key is the '|'-join of its rows' minhash columns in k order —
    pure projection + a 4-way Expand, zero shuffles (the tall-shape
    formulation needed a groupBy(doc_id, band_id) + collect_list here)."""
    n_bands = num_hashes // band_rows
    bands = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat_ws(
                    "|",
                    *[
                        F.col(f"mh{b * band_rows + r}").cast("string")
                        for r in range(band_rows)
                    ],
                ).alias("band_key"),
            )
            for b in range(n_bands)
        ]
    )
    return wide.select("doc_id", F.explode(bands).alias("bb")).select(
        "doc_id", F.col("bb.band_id").alias("band_id"), F.col("bb.band_key").alias("band_key")
    )


def _bucket_join(
    bands: DataFrame, neighbor_window: int | None = None, distinct: bool = True
) -> DataFrame:
    """Candidate pairs from band buckets.

    Exact mode (neighbor_window=None, the oracle-checked default): docs
    sharing a (band_id, band_key) bucket pair all-ways via a per-bucket
    self-join — output and work are O(B^2) in the bucket size B, which is
    fine under the LSH collision model but degenerates on an ADVERSARIAL
    corpus where one bucket captures a large fraction of the docs.

    Bounded mode (neighbor_window=W): within each bucket, order docs by
    doc_id and pair each doc only with its next W neighbors — generated
    with lead() over the bucket window, NO join, so compute AND output
    are O(B*W). A true near-dup cluster stuck in one bucket still comes
    out fully connected (consecutive pairs chain it; x15's connected
    components recovers the cluster), which is the standard
    recall-preserving skew cap for dedup: the pairs lost to the cap are
    exactly the transitively-implied ones. Exact-Jaccard verification
    downstream is unchanged, so precision is identical."""
    if neighbor_window is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("band_id", "band_key").orderBy("doc_id")
        with_leads = bands.select(
            "doc_id",
            *[
                F.lead("doc_id", d).over(w).alias(f"__n{d}")
                for d in range(1, neighbor_window + 1)
            ],
        )
        stacked = with_leads.selectExpr(
            "doc_id AS doc_a",
            f"stack({neighbor_window}, "
            + ", ".join(f"__n{d}" for d in range(1, neighbor_window + 1))
            + ") AS doc_b",
        )
        pairs = stacked.where(F.col("doc_b").isNotNull())
        return pairs.distinct() if distinct else pairs
    a = bands.alias("a")
    b = bands.alias("b")
    pairs = a.join(
        b,
        (F.col("a.band_id") == F.col("b.band_id"))
        & (F.col("a.band_key") == F.col("b.band_key"))
        & (F.col("a.doc_id") < F.col("b.doc_id")),
    ).select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    # distinct=False lets a caller that unions several candidate streams
    # dedup ONCE over the union (one exchange) instead of per-stream
    return pairs.distinct() if distinct else pairs


def _exact_jaccard_on_candidates(
    cand: DataFrame,
    docs: DataFrame,
    text_col: str,
    shingle_k: int | None,
    threshold: float,
) -> DataFrame:
    """Exact shingle-set Jaccard for candidate pairs, shingling ONLY docs
    that appear in a candidate pair. ``cand`` is checkpointed once
    (candidate-pair-sized) and its distinct doc ids semi-join the corpus
    BEFORE tokenization — so the verification COMPUTE, not just the
    verify join, is candidates-only. (The previous shape shingled the
    whole corpus a second time and let the join discard the work: the
    join prunes rows, but Catalyst cannot push join keys into the
    shingle projection. At 100 TB that was 2 full shingle passes where
    1 + candidate-sized suffices.) Keeps every extra column on cand.

    Measured trade-off at sf0.1: the differential corpus is near-dup
    SATURATED (86% of docs appear in a candidate pair), so the semi
    join saves almost nothing there and the checkpoint adds ~6% (2.39
    -> 2.54s median A/B). On a real corpus candidates are a small
    fraction and this removes an entire corpus-wide shingle pass —
    the posture wins at exactly the scale that matters."""
    cand = cand.localCheckpoint(eager=True)
    # the candidate table materializes with AQE-coalesced partitioning
    # (ONE partition at test SFs — its bytes are small), but the verify
    # join below is compute-bound per row (array_intersect over shingle
    # sets), so byte-based coalescing serializes it; spread the
    # checkpointed pairs when they landed under the core count
    # (deterministic hash keys, no round-robin sort)
    target = cand.sparkSession.sparkContext.defaultParallelism
    if cand.rdd.getNumPartitions() < target:
        cand = cand.repartition(target, "doc_a", "doc_b")
    ids = (
        cand.select(F.col("doc_a").alias("doc_id"))
        .unionByName(cand.select(F.col("doc_b").alias("doc_id")))
        .distinct()
    )
    # toks feeds BOTH verify-join branches — checkpoint it too, or the
    # candidate shingle pass runs twice (same no-exchange-reuse class)
    toks = _doc_tokens(
        docs.join(ids, "doc_id", "left_semi"), text_col, shingle_k
    ).localCheckpoint(eager=True)
    ta = toks.select(F.col("doc_id").alias("doc_a"), F.col("toks").alias("toks_a"))
    tb = toks.select(F.col("doc_id").alias("doc_b"), F.col("toks").alias("toks_b"))
    inter = F.size(F.array_intersect("toks_a", "toks_b"))
    union = F.size("toks_a") + F.size("toks_b") - inter
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .withColumn("jaccard", F.round(inter / union, 4).cast("double"))
        .where(F.col("jaccard") >= threshold)
    )


def minhash_lsh_neardups(
    docs: DataFrame,
    text_col: str = "text",
    threshold: float = JACCARD_THRESHOLD,
    shingle_k: int | None = SHINGLE_K,
    neighbor_window: int | None = None,
) -> DataFrame:
    """Full near-dup pipeline: shingle -> minhash -> LSH bands ->
    bucket join -> EXACT (shingle-set) Jaccard verification on candidates
    only (compute included — see _exact_jaccard_on_candidates). Emits
    (doc_a, doc_b, jaccard) for verified pairs >= threshold.

    ``neighbor_window`` bounds per-bucket candidate generation to O(B*W)
    against adversarial bucket skew (see _bucket_join); None (default)
    keeps the exact all-pairs-per-bucket semantics the oracle checks."""
    cand = _bucket_join(
        _band_buckets(_minhash_wide(docs, text_col, shingle_k=shingle_k)),
        neighbor_window=neighbor_window,
    )
    return _exact_jaccard_on_candidates(
        cand, docs, text_col, shingle_k, threshold
    ).select("doc_a", "doc_b", "jaccard")


def incremental_lsh_neardups(
    base: DataFrame,
    shard: DataFrame,
    text_col: str = "text",
    threshold: float = JACCARD_THRESHOLD,
    shingle_k: int | None = SHINGLE_K,
    corpus: DataFrame | None = None,
    shard_pred=None,
) -> DataFrame:
    """Incremental-ingest form of ``minhash_lsh_neardups``: near-dup
    pairs INTRODUCED by an arriving shard, against the existing corpus
    and within the shard itself — x42's arriving-shard discipline
    composed with x02's banding (VERDICT r5 item 9).

    Emits (doc_a, doc_b, jaccard, vs_existing): doc_a < doc_b always;
    vs_existing=true when one side is an existing-corpus doc.

    Scale shape: the arriving shard minhashes ONLY ITS OWN docs — the
    base corpus's (doc_id, band_id, band_key) bucket table is exactly
    the kind of artifact a production pipeline STORES and appends to
    across ingests (fixed-width rows, partitionable by band_key), so
    per-ingest cost is O(|shard|) hashing + two bucket equi-joins
    (shard x stored-index, shard x shard), never a re-hash or re-pair
    of the full corpus. Exact-Jaccard verification touches candidates
    only; document bodies never shuffle (all join keys are band keys /
    doc ids; token sets join per-side by doc_id).

    When ``base``/``shard`` are row-disjoint slices of ONE table, pass
    that table as ``corpus`` plus a doc_id predicate ``shard_pred``
    selecting the shard: the band index is then built in ONE corpus
    pass and materialized ONCE (the in-query stand-in for reading the
    stored index), with the shard/base sides derived by filter from the
    materialized table — instead of two independent minhash pipelines
    scanning the table twice (r7 plan audit: 8 scans/20 exchanges; the
    one-pass form roughly halves both). Results are identical; the
    differential test pins one-pass == two-input == full-corpus-filter.
    """
    if corpus is not None and shard_pred is not None:
        all_bands = _band_buckets(
            _minhash_wide(corpus, text_col, shingle_k=shingle_k)
        ).localCheckpoint(eager=True)
        shard_bands = all_bands.where(shard_pred)
        base_bands = all_bands.where(~shard_pred)
        verify_docs = corpus
    else:
        # generic two-input path: sides may come from different tables
        shard_bands = _band_buckets(
            _minhash_wide(shard, text_col, shingle_k=shingle_k)
        ).localCheckpoint(eager=True)
        base_bands = _band_buckets(_minhash_wide(base, text_col, shingle_k=shingle_k))
        verify_docs = base.unionByName(shard)
    s = shard_bands.alias("s")
    b = base_bands.alias("b")
    vs_base = (
        s.join(b, ["band_id", "band_key"])
        .select(
            F.least(F.col("s.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("s.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .withColumn("vs_existing", F.lit(True))
    )
    in_shard = _bucket_join(shard_bands, distinct=False).withColumn(
        "vs_existing", F.lit(False)
    )
    # ONE distinct over the union instead of one per branch: a pair's
    # vs_existing flag is a function of its (fixed) shard membership, so
    # no (doc_a, doc_b) can appear under both flags — the merged distinct
    # dedups exactly the same band-collision repeats, one exchange
    # cheaper.
    cand = vs_base.unionByName(in_shard).distinct()
    return _exact_jaccard_on_candidates(
        cand, verify_docs, text_col, shingle_k, threshold
    ).select("doc_a", "doc_b", "jaccard", "vs_existing")


def ngram_jaccard_pairs(
    docs: DataFrame, text_col: str = "text", threshold: float = 0.5, k: int = 3
) -> DataFrame:
    """Exact all-pairs n-gram (k-token shingle) Jaccard via inverted-index
    join: shingle, hash to fixed-width md5 keys, self-join on shingle
    hash, count intersections, join set sizes.

    Shingles (not unigrams) are what makes the inverted index scale: the
    shingle space grows combinatorially, so document frequency per key
    stays small and the per-key self-join stays near-linear — unigram
    keys over a bounded vocabulary degenerate to ~all-pairs. At 100 TB
    add prefix filtering to bound the residual blow-up."""
    from video_stream_processing_spark.operators.text import shingles

    # materialize the inverted index once: the self-join's two branches
    # and the size table otherwise re-run the shingle+md5 pipeline per
    # reference (4 corpus scans, plan-audited). This IS the posting
    # table a production pipeline writes at ingest — fixed-width rows.
    tok = (
        docs.select(
            "doc_id",
            F.explode_outer(F.array_distinct(shingles(text_col, k))).alias("s"),
        )
        .where(F.col("s").isNotNull())  # see _minhash_wide's explode note
        .select("doc_id", F.md5("s").alias("w"))
        .localCheckpoint(eager=True)
    )
    sizes = tok.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n"))
    pairs = (
        tok.alias("a")
        .join(tok.alias("b"), (F.col("a.w") == F.col("b.w")) & (F.col("a.doc_id") < F.col("b.doc_id")))
        .groupBy(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n").alias("na"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n").alias("nb"))
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 4).cast(
                "double"
            ),
        )
        .where(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ---------------------------------------------------------------------------
# DuckDB oracle builders (same pipelines, same md5 hashes)
# ---------------------------------------------------------------------------


def _candidate_cte_sql(neighbor_window: int | None) -> str:
    """The ``cand`` CTE of the LSH oracle: exact all-pairs-per-bucket, or
    the bounded neighbor-window form mirroring _bucket_join's lead()
    construction (row_number over the bucket ordered by doc_id; pair with
    the next W positions — doc_a < doc_b follows from the ordering)."""
    if neighbor_window is None:
        return """cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM band a JOIN band b
      ON a.band_id = b.band_id AND a.band_key = b.band_key AND a.doc_id < b.doc_id
)"""
    return f"""pos AS (
    SELECT doc_id, band_id, band_key,
           row_number() OVER (PARTITION BY band_id, band_key ORDER BY doc_id) AS pos
    FROM band
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM pos a JOIN pos b
      ON a.band_id = b.band_id AND a.band_key = b.band_key
     AND b.pos > a.pos AND b.pos <= a.pos + {neighbor_window}
)"""


def minhash_lsh_oracle_sql(
    threshold: float = JACCARD_THRESHOLD,
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
    shingle_k: int | None = SHINGLE_K,
    neighbor_window: int | None = None,
    source_sql: str = "SELECT doc_id, text FROM documents",
) -> str:
    if shingle_k is None:
        feat = "regexp_split_to_array(trim(text), '\\s+')"
    else:
        assert shingle_k == 3, "oracle SQL written for k=3"
        feat = (
            "list_transform(range(1, greatest(len(regexp_split_to_array(trim(text), '\\s+')) - 1, 1)), "
            "i -> regexp_split_to_array(trim(text), '\\s+')[i] || ' ' || "
            "regexp_split_to_array(trim(text), '\\s+')[i+1] || ' ' || "
            "regexp_split_to_array(trim(text), '\\s+')[i+2])"
        )
    return f"""
WITH toks AS (
    SELECT doc_id, list_sort(list_distinct({feat})) AS toks
    FROM ({source_sql})
),
tok AS (SELECT doc_id, md5(unnest(toks)) AS m FROM toks),
halves AS (
    SELECT doc_id,
           ('0x' || substr(m, 1, 15))::BIGINT AS h1,
           (('0x' || substr(m, 17, 15))::BIGINT % {_KM_PRIME}) AS h2
    FROM tok
),
sig AS (
    SELECT doc_id, ks.k, min(h1 + ks.k * h2) AS mh
    FROM halves CROSS JOIN (SELECT unnest(range({num_hashes})) AS k) ks
    GROUP BY doc_id, ks.k
),
band AS (
    SELECT doc_id, CAST(k // {band_rows} AS INT) AS band_id,
           string_agg(CAST(mh AS VARCHAR), '|' ORDER BY k) AS band_key
    FROM sig GROUP BY doc_id, 2
),
{_candidate_cte_sql(neighbor_window)}
SELECT doc_a, doc_b,
       round(len(list_intersect(ta.toks, tb.toks)) * 1.0 /
             (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))), 4) AS jaccard
FROM cand
JOIN toks ta ON cand.doc_a = ta.doc_id
JOIN toks tb ON cand.doc_b = tb.doc_id
WHERE round(len(list_intersect(ta.toks, tb.toks)) * 1.0 /
            (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))), 4) >= {threshold}
"""


def incremental_lsh_oracle_sql(
    threshold: float = JACCARD_THRESHOLD,
    num_hashes: int = NUM_HASHES,
    band_rows: int = BAND_ROWS,
) -> str:
    """Oracle for ``incremental_lsh_neardups`` with the x42 shard split
    (doc_id % 10 = 7): signatures/bands are per-doc, so computing them
    over ALL documents and splitting by membership afterwards is
    value-identical to the engine's two-sided computation."""
    feat = (
        "list_transform(range(1, greatest(len(regexp_split_to_array(trim(text), '\\s+')) - 1, 1)), "
        "i -> regexp_split_to_array(trim(text), '\\s+')[i] || ' ' || "
        "regexp_split_to_array(trim(text), '\\s+')[i+1] || ' ' || "
        "regexp_split_to_array(trim(text), '\\s+')[i+2])"
    )
    return f"""
WITH toks AS (
    SELECT doc_id, list_sort(list_distinct({feat})) AS toks
    FROM documents
),
tok AS (SELECT doc_id, md5(unnest(toks)) AS m FROM toks),
halves AS (
    SELECT doc_id,
           ('0x' || substr(m, 1, 15))::BIGINT AS h1,
           (('0x' || substr(m, 17, 15))::BIGINT % {_KM_PRIME}) AS h2
    FROM tok
),
sig AS (
    SELECT doc_id, ks.k, min(h1 + ks.k * h2) AS mh
    FROM halves CROSS JOIN (SELECT unnest(range({num_hashes})) AS k) ks
    GROUP BY doc_id, ks.k
),
band AS (
    SELECT doc_id, CAST(k // {band_rows} AS INT) AS band_id,
           string_agg(CAST(mh AS VARCHAR), '|' ORDER BY k) AS band_key
    FROM sig GROUP BY doc_id, 2
),
cand AS (
    SELECT least(a.doc_id, b.doc_id) AS doc_a,
           greatest(a.doc_id, b.doc_id) AS doc_b,
           TRUE AS vs_existing
    FROM band a JOIN band b
      ON a.band_id = b.band_id AND a.band_key = b.band_key
    WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 != 7
    UNION
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, FALSE AS vs_existing
    FROM band a JOIN band b
      ON a.band_id = b.band_id AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
    WHERE a.doc_id % 10 = 7 AND b.doc_id % 10 = 7
)
SELECT doc_a, doc_b,
       round(len(list_intersect(ta.toks, tb.toks)) * 1.0 /
             (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))), 4) AS jaccard,
       vs_existing
FROM cand
JOIN toks ta ON cand.doc_a = ta.doc_id
JOIN toks tb ON cand.doc_b = tb.doc_id
WHERE round(len(list_intersect(ta.toks, tb.toks)) * 1.0 /
            (len(ta.toks) + len(tb.toks) - len(list_intersect(ta.toks, tb.toks))), 4) >= {threshold}
"""


def dedup_clusters_oracle_sql(threshold: float = 0.5) -> str:
    """Connected components as a DuckDB RECURSIVE CTE: reachability
    closure over the (undirected) near-dup edge set, then min reachable
    id per node. Upgrade path for x15 from rows-only to oracle-checked —
    the oracle tolerates exponential closure size because the differential
    corpus is small; Spark's iterative pointer-jumping propagation is the
    form that scales."""
    return f"""
WITH RECURSIVE t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
sh AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shs
    FROM t
),
tok AS (SELECT doc_id, md5(unnest(shs)) AS w FROM sh),
sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
pr AS (
    SELECT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    ) p
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 4) >= {threshold}
),
edges AS (
    SELECT doc_a AS src, doc_b AS dst FROM pr
    UNION
    SELECT doc_b AS src, doc_a AS dst FROM pr
),
reach AS (
    SELECT doc_id, doc_id AS r FROM documents
    UNION
    SELECT reach.doc_id, e.dst AS r FROM reach JOIN edges e ON reach.r = e.src
)
SELECT doc_id, CAST(min(r) AS BIGINT) AS cluster_id FROM reach GROUP BY doc_id
"""


def ngram_jaccard_oracle_sql(threshold: float = 0.5) -> str:
    return f"""
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
sh AS (
    SELECT doc_id,
           list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS shs
    FROM t
),
tok AS (SELECT doc_id, md5(unnest(shs)) AS w FROM sh),
sizes AS (SELECT doc_id, count(*) AS n FROM tok GROUP BY doc_id),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
    FROM tok a JOIN tok b ON a.w = b.w AND a.doc_id < b.doc_id
    GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       round(inter * 1.0 / (sa.n + sb.n - inter), 4) AS jaccard
FROM pairs
JOIN sizes sa ON doc_a = sa.doc_id
JOIN sizes sb ON doc_b = sb.doc_id
WHERE round(inter * 1.0 / (sa.n + sb.n - inter), 4) >= {threshold}
"""


def cc_star(
    nodes: DataFrame, pairs: DataFrame, max_rounds: int = 25
) -> tuple[DataFrame, int]:
    """Two-phase star connected components (Kiveris et al. 2014,
    "Connected Components in MapReduce and Beyond" — the public
    large-star/small-star algorithm): alternate

    - LARGE-STAR: every node u links each LARGER neighbor v > u to
      m = min(neighbors(u) + [u]);
    - SMALL-STAR: every node u links each SMALLER-or-equal neighbor
      (and itself) to the minimum of those;

    until the edge set is stable, at which point the graph is a star
    forest rooted at each component's minimum id. Converges in
    O(log n) ALTERNATIONS on any graph — including chains, where plain
    min-label propagation needs ~diameter/2 rounds (the round-5
    COVERAGE note this replaces; pinned on a 256-chain in
    tests/test_graph_property.py).

    Each phase is one partitioned window over the edge list + a
    distinct — two exchanges — and the per-round edge count never
    exceeds the input edge count (the paper's invariant), so the
    100 TB budget is ~2 log n edge-sized shuffles total. Per-round
    localCheckpoint cuts the iterative lineage (the x92 lesson).

    Returns (labels, rounds): labels = (doc_id, cluster_id = component
    min), rounds = alternations executed.
    """
    from pyspark.sql import Window

    E = (
        pairs.select(
            F.least("doc_a", "doc_b").alias("a"), F.greatest("doc_a", "doc_b").alias("b")
        )
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    rounds = 0
    stable = True
    if E.limit(1).count() > 0:
        stable = False
        for _ in range(max_rounds):
            # large-star over the symmetrized neighborhood of u
            sym = E.select(F.col("a").alias("u"), F.col("b").alias("v")).unionAll(
                E.select(F.col("b").alias("u"), F.col("a").alias("v"))
            )
            wu = Window.partitionBy("u")
            ls = (
                sym.withColumn("m", F.least(F.min("v").over(wu), F.col("u")))
                .where(F.col("v") > F.col("u"))
                .select(F.col("m").alias("a"), F.col("v").alias("b"))
                .distinct()
            )
            # small-star over the canonical (a < b) orientation: node b's
            # small neighborhood is exactly its a-side; link them (and b)
            # to the minimum
            wb = Window.partitionBy("b")
            ssb = ls.withColumn("m", F.min("a").over(wb))
            ss = (
                ssb.select(F.col("m").alias("a"), F.col("a").alias("b"))
                .unionAll(ssb.select(F.col("m").alias("a"), F.col("b").alias("b")))
                .where(F.col("a") != F.col("b"))
                .distinct()
                .localCheckpoint(eager=True)
            )
            rounds += 1
            stable = (
                ss.exceptAll(E).limit(1).count() == 0
                and E.exceptAll(ss).limit(1).count() == 0
            )
            E = ss
            if stable:
                break
    if not stable:
        # Cap exhausted before the star forest stabilized (alternations
        # scale ~2*log2(n), so this means max_rounds < what the graph
        # needs). A node may still carry several tentative parents; the
        # final left join would then emit duplicate doc_id rows with
        # conflicting cluster_ids. Collapse to one parent per node (the
        # minimum — a sound upper-bound labeling: every emitted
        # cluster_id is a real member of the node's component, merely
        # possibly not yet the global minimum) and warn loudly so
        # callers raise the cap instead of trusting a partial result.
        import warnings

        warnings.warn(
            f"cc_star: edge set not stable after max_rounds={max_rounds} "
            "alternations; collapsing remaining multi-parent nodes to "
            "min(parent). Labels are consistent (one row per node) but "
            "may not be fully converged — raise max_rounds "
            "(~2*ceil(log2 n)+2 suffices for any graph).",
            RuntimeWarning,
            stacklevel=2,
        )
        E = E.groupBy("b").agg(F.min("a").alias("a")).select("a", "b")
    labels = (
        nodes.join(
            E.select(F.col("b").alias("doc_id"), F.col("a").alias("parent")),
            "doc_id",
            "left",
        )
        .select(
            "doc_id",
            F.coalesce(F.col("parent"), F.col("doc_id")).alias("cluster_id"),
        )
    )
    return labels, rounds


def dedup_clusters(
    nodes: DataFrame, pairs: DataFrame, max_rounds: int = 25
) -> DataFrame:
    """Connected components over the near-dup pair graph — the 'choose a
    canonical doc per duplicate cluster' step: every doc gets
    cluster_id = min doc_id reachable via near-dup edges.

    Engine: large-star/small-star (cc_star — O(log n) alternations on
    ANY graph shape; supersedes the r5 min-label propagation whose
    rounds scaled ~diameter/2 on chains). Shallow near-dup clusters
    converge in 1-2 alternations; the cap is a safety margin, not a
    convergence budget.

    ``nodes`` needs a doc_id column; ``pairs`` needs (doc_a, doc_b).
    """
    labels, _ = cc_star(nodes, pairs, max_rounds=max_rounds)
    return labels



# ---------------------------------------------------------------------------
# Benchmark decontamination — n-gram overlap between a (small) eval set
# and the (huge) training corpus.
# ---------------------------------------------------------------------------


def decontaminate_pairs(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    k: int = 3,
    min_shared: int = 5,
) -> DataFrame:
    """Flag training documents whose k-gram shingle overlap with any
    benchmark document reaches ``min_shared`` (the Llama/GPT-style
    eval-decontamination filter, here with k=3 for the tiny test corpus;
    production uses k~13).

    Scale shape: the benchmark side is tiny by construction (eval sets
    are MBs vs a 100 TB corpus), so its shingle index is broadcast — the
    training corpus streams through a broadcast hash join in ONE scan
    with NO shuffle of the corpus itself (the per-doc shingle count
    rides along the exploded index, so no second scan / sizes join); the
    only shuffle is the per-(train, bench) overlap count on matched
    rows, which is proportional to true collisions, not corpus size.

    Emits (doc_id, bench_id, shared, overlap_ratio) for flagged pairs,
    overlap_ratio = shared / train doc's distinct-shingle count.
    """
    from video_stream_processing_spark.operators.text import shingles

    b = (
        bench.select(
            F.col("doc_id").alias("bench_id"),
            F.explode_outer(F.array_distinct(shingles(text_col, k))).alias("s"),
        )
        .where(F.col("s").isNotNull())  # see _minhash_wide's explode note
        .select("bench_id", F.md5("s").alias("w"))
    )
    # materialize the shingle array in its OWN projection before the
    # explode: with size() and explode() in one select, the post-Generate
    # Project re-derives the whole tokenize+shingle expression per
    # EXPLODED row (the Generate-inlining trap shingles() documents) —
    # this shape computes it once per doc and size(arr) is a cheap
    # reference (measured ~2x on the sf0.1 corpus scan)
    # the parallelism guard wraps the INPUT, not the shingled frame: a
    # repartition placed after the projection leaves the whole
    # shingle+md5 pipeline inside the single scan task and only spreads
    # the already-computed rows (r15 profile: 2.1 s on one task)
    arr = _ensure_parallelism(train, "doc_id").select(
        "doc_id", F.array_distinct(shingles(text_col, k)).alias("arr")
    )
    t = (
        arr.select(
            "doc_id",
            F.size("arr").cast("long").alias("n"),
            F.explode_outer("arr").alias("s"),
        )
        .where(F.col("s").isNotNull())  # see _minhash_wide's explode note
        .select("doc_id", "n", F.md5("s").alias("w"))
    )
    return (
        t.join(F.broadcast(b), "w")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("shared"), F.first("n").alias("n"))
        .where(F.col("shared") >= min_shared)
        .select(
            "doc_id",
            "bench_id",
            "shared",
            F.round(F.col("shared") / F.col("n"), 4).alias("overlap_ratio"),
        )
    )


def decontaminate_oracle_sql(
    bench_mod: int = 10, bench_rem: int = 7, min_shared: int = 5
) -> str:
    """DuckDB oracle for decontaminate_pairs with the benchmark split
    defined as doc_id % bench_mod == bench_rem (k=3 shingles)."""
    return f"""
WITH t AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS toks FROM documents),
sh AS (
    SELECT doc_id,
           md5(unnest(list_distinct(list_transform(range(1, greatest(len(toks) - 1, 1)),
               i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])))) AS w
    FROM t
),
bench AS (SELECT doc_id AS bench_id, w FROM sh WHERE doc_id % {bench_mod} = {bench_rem}),
train AS (SELECT * FROM sh WHERE doc_id % {bench_mod} <> {bench_rem}),
sizes AS (SELECT doc_id, count(*) AS n FROM train GROUP BY doc_id),
ov AS (
    SELECT tr.doc_id, b.bench_id, count(*) AS shared
    FROM train tr JOIN bench b ON tr.w = b.w
    GROUP BY 1, 2
    HAVING count(*) >= {min_shared}
)
SELECT ov.doc_id, ov.bench_id, CAST(shared AS BIGINT) AS shared,
       round(shared * 1.0 / n, 4) AS overlap_ratio
FROM ov JOIN sizes ON ov.doc_id = sizes.doc_id
"""


def decontaminate_pairs_bloom(
    train: DataFrame,
    bench: DataFrame,
    text_col: str = "text",
    k: int = 3,
    min_shared: int = 5,
    n_bits: int = 1 << 17,
    n_hashes: int = 2,
) -> DataFrame:
    """decontaminate_pairs for the regime where the benchmark side is
    TOO BIG TO BROADCAST (x26 broadcasts the bench shingle index; a
    large held-out suite or another corpus shard may not fit): a
    Bloom-style prefilter whose size is FIXED by n_bits regardless of
    bench size, then an exact sort-merge join on the survivors.

    Plan shape at 100 TB:
    - bench shingle hashes fold into <= n_bits DISTINCT bit positions
      per hash function (k=n_hashes functions via seeded xxhash64) —
      the "bitset" is a bounded int set, broadcastable even when the
      bench index itself is not;
    - the corpus streams through n_hashes broadcast LEFT SEMI joins on
      those int positions — a corpus shingle enters the exact join's
      shuffle ONLY if every position hits (classic Bloom AND), so
      shuffle volume is true-collisions + false-positive rate, not
      corpus size;
    - the exact join is hinted sort-merge (both sides shuffle on the
      fixed-width md5 key) because THIS regime assumes the bench side
      exceeds the broadcast threshold; false positives die here, so
      the result is exactly decontaminate_pairs' output.

    Same oracle as x26 (the prefilter is semantics-preserving); the
    soundness invariant (no true match pruned) and the actual pruning
    are pinned by tests/test_extensions.py::test_bloom_decontaminate_*."""
    from video_stream_processing_spark.operators.text import shingles

    # materialize the bench shingle table ONCE: it feeds n_hashes bit-set
    # derivations plus the exact join, and without the checkpoint each
    # reference re-shingles the whole bench (3 computations of the
    # explode+md5 pipeline; idle A/B at sf0.1: 2.70 -> 2.58s median).
    # A distributed materialization — never a driver collect — so the
    # too-big-to-broadcast regime is preserved.
    b_sh = (
        bench.select(
            F.col("doc_id").alias("bench_id"),
            F.explode_outer(F.array_distinct(shingles(text_col, k))).alias("s"),
        )
        .where(F.col("s").isNotNull())  # see _minhash_wide's explode note
        .select("bench_id", F.md5("s").alias("w"))
        .localCheckpoint(eager=True)
    )
    # same two-step projection as decontaminate_pairs: materialize the
    # shingle array before the explode so size() is a reference, not a
    # per-exploded-row re-derivation
    # guard wraps the INPUT (see decontaminate_pairs): repartitioning
    # after the projection would leave shingle+md5 in the single scan task
    t_arr = _ensure_parallelism(train, "doc_id").select(
        "doc_id", F.array_distinct(shingles(text_col, k)).alias("arr")
    )
    t_sh = (
        t_arr.select(
            "doc_id",
            F.size("arr").cast("long").alias("n"),
            F.explode_outer("arr").alias("s"),
        )
        .where(F.col("s").isNotNull())  # see _minhash_wide's explode note
        .select("doc_id", "n", F.md5("s").alias("w"))
    )

    def pos(col: Column, seed: int) -> Column:
        return F.pmod(F.xxhash64(col, F.lit(seed)), F.lit(n_bits))

    filtered = t_sh
    for seed in range(n_hashes):
        bits = b_sh.select(pos(F.col("w"), seed).alias("p")).distinct()
        filtered = filtered.join(
            F.broadcast(bits), pos(F.col("w"), seed) == bits.p, "left_semi"
        )
    return (
        filtered.join(b_sh.hint("merge"), "w")
        .groupBy("doc_id", "bench_id")
        .agg(F.count(F.lit(1)).alias("shared"), F.first("n").alias("n"))
        .where(F.col("shared") >= min_shared)
        .select(
            "doc_id",
            "bench_id",
            "shared",
            F.round(F.col("shared") / F.col("n"), 4).alias("overlap_ratio"),
        )
    )


# ---------------------------------------------------------------------------
# Exact substring-level dedup: maximal cross-doc repeated passages
# ---------------------------------------------------------------------------


def repeated_passages(
    docs: DataFrame,
    text_col: str = "text",
    gram_len: int = 15,
    max_gram_docs: int = 8,
) -> DataFrame:
    """EXACT substring-level dedup — the repeated-passage finder the
    whole-doc (x01) and set-similarity (x02/x04) dedups both miss: two
    documents sharing a verbatim run of >= ``gram_len`` tokens are
    reported with the MAXIMAL shared run's offsets and length, the
    passage-level recipe of the public train-data-dedup literature
    (suffix-array substring dedup approximated by stride-1 token
    L-grams + diagonal merge).

    Emits (doc_a, doc_b, start_a, start_b, match_len): 0-based token
    offsets of each maximal shared passage, match_len in tokens
    (>= gram_len by construction). doc_a < doc_b.

    Pipeline: stride-1 L-gram md5s per doc -> boilerplate guard (grams
    in > max_gram_docs distinct docs are dropped — template/boilerplate
    text otherwise fans out quadratically) -> per-gram bounded
    occurrence sets grouped ONCE (x108's bounded-source-set shape; pair
    generation is an in-row array transform, NOT a self-join shuffle)
    -> matching (pos_a, pos_b) anchors merged into maximal runs by the
    gaps-and-islands trick on the (doc_a, doc_b, pos_b - pos_a)
    diagonal. Consecutive anchors on one diagonal differ by exactly 1
    in pos_a, so island size k means a shared run of k + L - 1 tokens.

    Scale: one corpus scan; one exchange on the gram hash (the grouped
    occurrence sets); one exchange for the diagonal window. Per-gram
    work is bounded by the boilerplate cap (cross-doc) times per-doc
    repetition (bounded by doc length). 100 TB posture: the gram table
    is the store-and-append artifact (like x106's band index), and the
    cap is the knob that keeps hot boilerplate from exploding."""
    from video_stream_processing_spark.operators.text import tokens_col

    grams = (
        docs.select("doc_id", tokens_col(text_col).alias("t"))
        .where(F.size("t") >= gram_len)
        .select(
            "doc_id",
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(0), F.size("t") - gram_len),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice(F.col("t"), i + 1, F.lit(gram_len)))
                    ),
                )
            ).alias("pos", "g"),
        )
    )
    occs = (
        grams.groupBy("g")
        .agg(
            F.sort_array(F.collect_list(F.struct("doc_id", "pos"))).alias("os"),
            F.countDistinct("doc_id").alias("nd"),
        )
        .where((F.col("nd") >= 2) & (F.col("nd") <= max_gram_docs))
    )
    # cross-doc anchor pairs from each bounded occurrence list (in-row
    # array transform; sorted by (doc_id, pos) so doc_a < doc_b holds)
    pairs = occs.select(
        F.explode(
            F.expr(
                "flatten(transform(os, a -> transform("
                "filter(os, b -> b.doc_id > a.doc_id), "
                "b -> struct(a.doc_id AS doc_a, b.doc_id AS doc_b, "
                "a.pos AS pos_a, b.pos AS pos_b))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b", "p.pos_a", "p.pos_b")
    from pyspark.sql import Window

    diag = (F.col("pos_b") - F.col("pos_a")).alias("diag")
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pos_a")
    return (
        pairs.select("doc_a", "doc_b", "pos_a", "pos_b", diag)
        .withColumn("island", F.col("pos_a") - F.row_number().over(w))
        .groupBy("doc_a", "doc_b", "diag", "island")
        .agg(
            F.min("pos_a").alias("start_a"),
            F.min("pos_b").alias("start_b"),
            (F.count(F.lit(1)) + gram_len - 1).alias("match_len"),
        )
        .select("doc_a", "doc_b", "start_a", "start_b", "match_len")
    )


def repeated_passages_oracle_sql(gram_len: int = 15, max_gram_docs: int = 8) -> str:
    """DuckDB replay of repeated_passages: same stride-1 md5 grams, same
    boilerplate cap, pairs via plain self-join (set-identical to the
    bounded in-row generation), same gaps-and-islands merge."""
    return f"""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
  WHERE len(regexp_split_to_array(trim(text), '\\s+')) >= {gram_len}
),
grams AS (
  SELECT doc_id, u.i - 1 AS pos,
         md5(array_to_string(t[u.i : u.i + {gram_len} - 1], ' ')) AS g
  FROM toks,
       unnest(list_transform(range(1, len(t) - {gram_len} + 2), x -> {{'i': x}})) AS s(u)
),
keep AS (
  SELECT g FROM grams GROUP BY g
  HAVING count(DISTINCT doc_id) BETWEEN 2 AND {max_gram_docs}
),
pruned AS (SELECT grams.* FROM grams JOIN keep USING (g)),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, a.pos AS pos_a, b.pos AS pos_b
  FROM pruned a JOIN pruned b ON a.g = b.g AND a.doc_id < b.doc_id
),
isl AS (
  SELECT *, pos_b - pos_a AS diag,
         pos_a - row_number() OVER (
             PARTITION BY doc_a, doc_b, pos_b - pos_a ORDER BY pos_a) AS island
  FROM pairs
)
SELECT doc_a, doc_b, min(pos_a) AS start_a, min(pos_b) AS start_b,
       CAST(count(*) + {gram_len} - 1 AS BIGINT) AS match_len
FROM isl GROUP BY doc_a, doc_b, diag, island
"""


# ---------------------------------------------------------------------------
# Winnowing fingerprints (Schleimer/Wilkerson/Aiken 2003 — the MOSS
# local fingerprinting algorithm)
# ---------------------------------------------------------------------------

WINNOW_K = 3  # k-token shingles feed the hash stream
WINNOW_W = 4  # window width; fingerprint density ~ 2/(w+1)


def winnowing_fingerprints(
    docs: DataFrame,
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
) -> DataFrame:
    """Per-doc winnowing fingerprint set: (doc_id, fp) rows.

    The MOSS algorithm: hash every k-gram, slide a w-hash window, keep
    each window's MINIMUM hash, dedupe. (Classic winnowing's
    rightmost-on-ties rule disambiguates selected POSITIONS; this
    operator fingerprints by VALUE, where every tie-break selects the
    same value — so the tie rule is vacuous and omitted.) Guarantees:
    any shared run of >= w + k - 1 tokens shares at least one
    fingerprint REGARDLESS of offset alignment — the grid-alignment
    robustness stride-sampled grams lack (x114 uses stride-1 grams and
    pays |doc| rows for it; winnowing pays ~2|doc|/(w+1)).

    Implementation (three forms measured at sf0.1):
    - transform-over-sequence + element_at: QUADRATIC per doc — every
      window lambda re-inlines the whole hash-array expression (the
      shingles() docstring trap); did not finish in 6 min.
    - zip_with least-chain over w shifted slices (the shingles
      construction): linear but each gram's md5 evaluates w times
      (slices of an unmaterialized array) — 7.6 s.
    - SHIPPED: posexplode the gram stream once (each md5 computed
      ONCE), min over a per-doc ordered rows-frame window, keep full
      windows only (positions 0..n-w; a doc shorter than w keeps
      position 0, whose truncated frame is the whole doc) — 2.5 s.
      One exchange on doc_id for the window + one for the per-doc
      distinct; at 100 TB both partition by doc_id and stay balanced.
    The oracle replays the equivalent per-row array form (identical
    selected values)."""
    from pyspark.sql import Window

    from video_stream_processing_spark.operators.text import shingles

    g = docs.select(
        "doc_id", F.posexplode_outer(shingles(text_col, k)).alias("pos", "s")
    ).where(F.col("s").isNotNull()).select(
        "doc_id",
        "pos",
        F.conv(F.substring(F.md5("s"), 1, 15), 16, 10).cast("long").alias("h"),
    )
    frame = Window.partitionBy("doc_id").orderBy("pos").rowsBetween(0, w - 1)
    whole_doc = Window.partitionBy("doc_id")
    return (
        g.select(
            "doc_id",
            "pos",
            F.min("h").over(frame).alias("fp"),
            F.count(F.lit(1)).over(whole_doc).alias("n"),
        )
        .where(F.col("pos") <= F.greatest(F.col("n") - w, F.lit(0)))
        .select("doc_id", "fp")
        .distinct()
    )


def winnowing_match_pairs(
    docs: DataFrame,
    text_col: str = "text",
    k: int = WINNOW_K,
    w: int = WINNOW_W,
    min_shared: int = 2,
    max_fp_docs: int = 8,
) -> DataFrame:
    """Cross-doc fingerprint matches — the MOSS similarity report:
    (doc_a, doc_b, shared_fps) for pairs sharing >= min_shared selected
    fingerprints. Same bounded-source-set shape as x113/x114: group the
    fingerprint table once, drop boilerplate fingerprints present in
    more than ``max_fp_docs`` docs, generate pairs in-row from the
    bounded doc lists — never a fingerprint-stream self-join."""
    fps = winnowing_fingerprints(docs, text_col, k, w)
    occ = (
        fps.groupBy("fp")
        .agg(F.array_sort(F.collect_set("doc_id")).alias("ds"))
        .where((F.size("ds") >= 2) & (F.size("ds") <= max_fp_docs))
    )
    pairs = occ.select(
        F.explode(
            F.expr(
                "flatten(transform(ds, a -> transform("
                "filter(ds, b -> b > a), b -> struct(a AS doc_a, b AS doc_b))))"
            )
        ).alias("p")
    ).select("p.doc_a", "p.doc_b")
    return (
        pairs.groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).cast("long").alias("shared_fps"))
        .where(F.col("shared_fps") >= min_shared)
    )


def winnowing_oracle_sql(
    k: int = WINNOW_K, w: int = WINNOW_W, min_shared: int = 2, max_fp_docs: int = 8
) -> str:
    """DuckDB replay of winnowing_match_pairs: same k-gram md5-prefix
    hashes, same rightmost-min window selection, same boilerplate cap
    and pair semantics (plain joins replace the in-row generation)."""
    assert k == 3, "oracle SQL written for k=3 shingles"
    grams = (
        "list_transform(range(1, greatest(len(t) - 1, 1)), "
        "i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])"
    )
    return f"""
WITH toks AS (
    SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents
),
hs AS (
    SELECT doc_id,
           list_transform({grams},
               g -> ('0x' || substr(md5(g), 1, 15))::BIGINT) AS h
    FROM toks WHERE len(t) >= {k}
),
sel AS (
    SELECT doc_id,
           list_distinct(list_transform(
               range(0, greatest(len(h) - {w}, 0) + 1),
               i -> list_min(h[i+1 : i+{w}])
           )) AS fps
    FROM hs WHERE len(h) >= 1
),
fp AS (SELECT doc_id, unnest(fps) AS fp FROM sel),
occ AS (
    SELECT fp FROM fp GROUP BY fp
    HAVING count(DISTINCT doc_id) BETWEEN 2 AND {max_fp_docs}
),
pruned AS (SELECT fp.* FROM fp JOIN occ USING (fp)),
pairs AS (
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM pruned a JOIN pruned b ON a.fp = b.fp AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, CAST(count(*) AS BIGINT) AS shared_fps
FROM pairs GROUP BY doc_a, doc_b HAVING count(*) >= {min_shared}
"""


# ---------------------------------------------------------------------------
# Apply-side substring dedup: materialize the cut corpus from x114's
# repeated-passage spans (x121) — as x17 (apply) is to x02 (report)
# ---------------------------------------------------------------------------


def apply_passage_dedup(
    docs: DataFrame,
    text_col: str = "text",
    gram_len: int = 15,
    max_gram_docs: int = 8,
) -> DataFrame:
    """The APPLY half of passage-level dedup: every maximal shared run
    reported by :func:`repeated_passages` keeps its FIRST occurrence
    (the span lives in doc_a — always the lower doc_id — untouched) and
    is CUT from every later occurrence (the doc_b side), the
    keep-first-occurrence recipe of the public substring-dedup
    literature. Output is the materialized cut corpus: one row per doc
    with the surviving token stream reassembled.

    Pipeline: spans -> per-doc removal intervals [start_b,
    start_b+match_len) -> overlapping/touching intervals merged by the
    running-max gaps-and-islands sweep (one doc-keyed window) -> tokens
    dropped by an IN-ROW indexed filter against the doc's merged
    interval list (no per-token shuffle; the interval array is tiny) ->
    ``cut_text`` = kept tokens joined by single spaces (both engines
    reassemble from tokens, so whitespace is normalized identically).

    Scale: everything x114 says, plus one doc-keyed window over the
    CHANGE-SIZED interval table (rows = spans, not tokens) and one
    broadcast-able left join of intervals back onto the corpus scan.
    Untouched docs pass through with n_removed = 0."""
    from pyspark.sql import Window

    from video_stream_processing_spark.operators.text import tokens_col

    spans = repeated_passages(docs, text_col, gram_len, max_gram_docs)
    rem = spans.select(
        F.col("doc_b").alias("doc_id"),
        F.col("start_b").alias("s"),
        (F.col("start_b") + F.col("match_len")).alias("e"),
    )
    w_prev = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    w_run = (
        Window.partitionBy("doc_id")
        .orderBy("s", "e")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    merged = (
        rem.withColumn(
            "brk",
            (F.col("s") > F.coalesce(F.max("e").over(w_prev), F.lit(-1))).cast("int"),
        )
        .withColumn("gid", F.sum("brk").over(w_run))
        .groupBy("doc_id", "gid")
        .agg(F.min("s").alias("s"), F.max("e").alias("e"))
    )
    ivs = merged.groupBy("doc_id").agg(
        F.collect_list(F.struct("s", "e")).alias("ivs")
    )
    base = docs.select("doc_id", tokens_col(text_col).alias("t"))
    out = (
        base.join(ivs, "doc_id", "left")
        .withColumn(
            "ivs", F.coalesce(F.col("ivs"), F.array().cast("array<struct<s:long,e:long>>"))
        )
        .withColumn(
            "kept",
            F.filter(
                "t",
                lambda x, i: ~F.exists(
                    "ivs", lambda v: (i >= v["s"]) & (i < v["e"])
                ),
            ),
        )
    )
    return out.select(
        "doc_id",
        F.size("t").cast("long").alias("n_tokens"),
        (F.size("t") - F.size("kept")).cast("long").alias("n_removed"),
        F.concat_ws(" ", F.col("kept")).alias("cut_text"),
    )


def apply_passage_dedup_oracle_sql(gram_len: int = 15, max_gram_docs: int = 8) -> str:
    """DuckDB replay of apply_passage_dedup: the x114 span pipeline as a
    subquery, the same running-max interval merge, the same indexed
    token filter (DuckDB lambda indices are 1-based; the comparison
    shifts by one to match Spark's 0-based positions)."""
    spans = repeated_passages_oracle_sql(gram_len, max_gram_docs)
    return f"""
WITH spans AS (SELECT * FROM ({spans})),
rem AS (SELECT doc_b AS doc_id, start_b AS s, start_b + match_len AS e FROM spans),
swept AS (
    SELECT doc_id, s, e,
           CASE WHEN s > coalesce(max(e) OVER (
                    PARTITION BY doc_id ORDER BY s, e
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1)
                THEN 1 ELSE 0 END AS brk
    FROM rem
),
grp AS (
    SELECT doc_id, s, e,
           sum(brk) OVER (PARTITION BY doc_id ORDER BY s, e
                          ROWS UNBOUNDED PRECEDING) AS gid
    FROM swept
),
merged AS (SELECT doc_id, gid, min(s) s, max(e) e FROM grp GROUP BY doc_id, gid),
ivs AS (SELECT doc_id, list({{'s': s, 'e': e}}) ivl FROM merged GROUP BY doc_id),
base AS (SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS t FROM documents),
cut AS (
    SELECT b.doc_id, b.t,
           list_filter(b.t, (x, i) -> len(list_filter(coalesce(v.ivl, []),
               iv -> i - 1 >= iv.s AND i - 1 < iv.e)) = 0) AS kept
    FROM base b LEFT JOIN ivs v ON b.doc_id = v.doc_id
)
SELECT doc_id, CAST(len(t) AS BIGINT) AS n_tokens,
       CAST(len(t) - len(kept) AS BIGINT) AS n_removed,
       coalesce(array_to_string(kept, ' '), '') AS cut_text
FROM cut
"""


# --------------------------------------------------------------------------
# Banded Hamming join over 64-bit signatures — shared by the text
# SimHash near-dup (x78) and the image dHash near-dup (x135/x137).
# --------------------------------------------------------------------------


def banded_hamming_pairs(
    sig: DataFrame, max_hamming: int = 3, n_bands: int = 4
) -> DataFrame:
    """Near-dup pairs from a 64-bit signature table (doc_id, sig) where
    ``sig`` is a 64-char '0'/'1' string: band into ``n_bands`` x
    (64/n_bands)-bit keys, equi-join on (band, key) — never all-pairs —
    and verify candidates by exact Hamming distance <= ``max_hamming``.
    Pigeonhole guarantee (Manku et al. 2007): any pair within Hamming
    distance n_bands - 1 agrees exactly on at least one band, so with
    the default 4 x 16 the <= 3 radius has guaranteed recall.

    Returns (doc_a, doc_b, hamming), doc_a < doc_b. The signature table
    is localCheckpointed once so both self-join branches reuse it
    instead of re-running the upstream (typically an Arrow codec/hash
    pass over the whole corpus); the verify carries the signature as two
    32-bit integer halves so per-pair Hamming is two XOR+bit_count ops,
    not a 64-char string diff. One shuffle on the fixed-width
    (band, key); candidate work is collision-sized. Identical-signature
    cliques make bucket pairs quadratic in clique size — the same
    adversarial shape x39 bounds for MinHash; its neighbor-window cap
    applies here verbatim if a corpus needs it."""
    if 64 % n_bands != 0:
        raise ValueError(
            f"n_bands must divide 64 (got {n_bands}): a non-divisor "
            "leaves trailing signature bits out of every band key and "
            "silently voids the pigeonhole recall guarantee"
        )
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds n_bands-1={n_bands - 1}: "
            "a pair at that distance can differ in every band, so the "
            "band join silently loses recall; raise n_bands or lower "
            "max_hamming"
        )
    width = 64 // n_bands
    sig = (
        sig.select(
            "doc_id",
            "sig",
            F.conv(F.substring("sig", 1, 32), 2, 10).cast("long").alias("h1"),
            F.conv(F.substring("sig", 33, 32), 2, 10).cast("long").alias("h2"),
        )
        .localCheckpoint(eager=True)
    )
    bands = sig.select(
        "doc_id",
        "h1",
        "h2",
        F.explode(F.array(*[F.lit(k) for k in range(n_bands)])).alias("band"),
        "sig",
    ).withColumn("bkey", F.expr(f"substring(sig, band * {width} + 1, {width})"))
    a = bands.select(
        F.col("doc_id").alias("doc_a"),
        F.col("h1").alias("h1_a"),
        F.col("h2").alias("h2_a"),
        "band",
        "bkey",
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"),
        F.col("h1").alias("h1_b"),
        F.col("h2").alias("h2_b"),
        "band",
        "bkey",
    )
    cand = (
        a.join(b, ["band", "bkey"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "h1_a", "h1_b", "h2_a", "h2_b")
        .distinct()
    )
    ham = F.bit_count(F.col("h1_a").bitwiseXOR(F.col("h1_b"))) + F.bit_count(
        F.col("h2_a").bitwiseXOR(F.col("h2_b"))
    )
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming")
    )


def incremental_hamming_pairs(
    sig: DataFrame, shard_pred, max_hamming: int = 3, n_bands: int = 4
) -> DataFrame:
    """Incremental-ingest form of ``banded_hamming_pairs``: near-dup
    pairs INTRODUCED by an arriving shard of 64-bit signatures, against
    the existing corpus index and within the shard itself — x42/x106's
    arriving-shard discipline applied to the Hamming-space lane.

    ``sig`` is the full (doc_id, sig) table (the in-query stand-in for
    the STORED signature index a production pipeline appends to across
    ingests: fixed-width (doc_id, 8-byte sig) rows, partitionable by
    band key); ``shard_pred`` selects the arriving rows. The banded
    table is materialized ONCE and split by filter (the x106 one-pass
    fix), so per-ingest cost is O(|shard|) hashing + two band
    equi-joins (shard x stored-index, shard x shard) — the base corpus
    is never re-paired against itself. Emits (doc_a, doc_b, hamming,
    vs_existing), doc_a < doc_b; vs_existing=true when one side is an
    existing-corpus doc. Hamming is verified on the two 32-bit integer
    halves exactly as in banded_hamming_pairs."""
    if 64 % n_bands != 0:
        raise ValueError(
            f"n_bands must divide 64 (got {n_bands}): a non-divisor "
            "leaves trailing signature bits out of every band key and "
            "silently voids the pigeonhole recall guarantee"
        )
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"max_hamming={max_hamming} exceeds n_bands-1={n_bands - 1}: "
            "a pair at that distance can differ in every band, so the "
            "band join silently loses recall; raise n_bands or lower "
            "max_hamming"
        )
    width = 64 // n_bands
    bands = (
        sig.select(
            "doc_id",
            "sig",
            F.conv(F.substring("sig", 1, 32), 2, 10).cast("long").alias("h1"),
            F.conv(F.substring("sig", 33, 32), 2, 10).cast("long").alias("h2"),
        )
        .select(
            "doc_id",
            "h1",
            "h2",
            F.explode(F.array(*[F.lit(k) for k in range(n_bands)])).alias("band"),
            "sig",
        )
        .withColumn("bkey", F.expr(f"substring(sig, band * {width} + 1, {width})"))
        .drop("sig")
        .localCheckpoint(eager=True)
    )
    shard = bands.where(shard_pred)
    base = bands.where(~shard_pred)

    def _pairs(left: DataFrame, right: DataFrame, vs_existing: bool) -> DataFrame:
        l, r = left.alias("l"), right.alias("r")
        joined = l.join(r, ["band", "bkey"])
        if not vs_existing:
            joined = joined.where(F.col("l.doc_id") < F.col("r.doc_id"))
        return joined.select(
            F.least(F.col("l.doc_id"), F.col("r.doc_id")).alias("doc_a"),
            F.greatest(F.col("l.doc_id"), F.col("r.doc_id")).alias("doc_b"),
            F.col("l.h1").alias("h1_a"),
            F.col("l.h2").alias("h2_a"),
            F.col("r.h1").alias("h1_b"),
            F.col("r.h2").alias("h2_b"),
            F.lit(vs_existing).alias("vs_existing"),
        ).distinct()

    cand = _pairs(shard, base, True).unionByName(_pairs(shard, shard, False))
    ham = F.bit_count(F.col("h1_a").bitwiseXOR(F.col("h1_b"))) + F.bit_count(
        F.col("h2_a").bitwiseXOR(F.col("h2_b"))
    )
    return (
        cand.withColumn("hamming", ham.cast("int"))
        .where(F.col("hamming") <= max_hamming)
        .select("doc_a", "doc_b", "hamming", "vs_existing")
    )
