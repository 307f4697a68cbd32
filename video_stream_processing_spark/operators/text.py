"""Text-analysis operators over the ``documents`` table — the
training-data-pipeline surface (driver north-star extension; the
reference has no text path, so these are Layer-B-style additions built
entirely from JVM-side built-ins where possible).

Design rule: everything here is expressible with pyspark.sql.functions
(codegen'd, no Python in the hot path) EXCEPT simhash, which is a
one-pass Arrow-batched pandas UDF whose bit definition is md5-based so
the DuckDB oracle can recompute it exactly.
"""

from __future__ import annotations

import hashlib
import math

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Tiny deterministic stopword list used by quality scoring and lang-id.
STOPWORDS = ("the", "a", "of", "and", "to")

SIMHASH_BITS = 64


def tokens_col(text_col: str = "text") -> Column:
    """Whitespace tokenization (split on runs of whitespace)."""
    return F.split(F.trim(F.col(text_col)), r"\s+")


def word_count(text_col: str = "text") -> Column:
    return F.size(tokens_col(text_col)).cast("long")


def distinct_word_count(text_col: str = "text") -> Column:
    return F.size(F.array_distinct(tokens_col(text_col))).cast("long")


def bpe_ish_token_count(text_col: str = "text") -> Column:
    """BPE-ish subword proxy: count word chunks of <=4 chars, i.e.
    ceil(len(word)/4) summed — a deterministic stand-in for a real BPE
    tokenizer's token count (vocabularies aren't in this container)."""
    return F.aggregate(
        tokens_col(text_col),
        F.lit(0).cast("long"),
        lambda acc, w: acc + F.ceil(F.length(w) / 4.0).cast("long"),
    )


def stopword_ratio(text_col: str = "text") -> Column:
    toks = tokens_col(text_col)
    stops = F.filter(toks, lambda w: F.lower(w).isin(*STOPWORDS))
    return (F.size(stops) / F.greatest(F.size(toks), F.lit(1))).cast("double")


def punct_ratio(text_col: str = "text") -> Column:
    stripped = F.regexp_replace(F.col(text_col), r"[^\w\s]", "")
    n = F.length(text_col)
    return ((n - F.length(stripped)) / F.greatest(n, F.lit(1))).cast("double")


def quality_score(text_col: str = "text") -> Column:
    """Composite [0,1] quality heuristic: length band + low punctuation +
    sane stopword ratio + lexical diversity. Deterministic arithmetic so
    the oracle reproduces it bit-for-bit (all double math)."""
    wc = word_count(text_col)
    length_term = F.least(wc / F.lit(100.0), F.lit(1.0))
    diversity = distinct_word_count(text_col) / F.greatest(wc, F.lit(1))
    sw = stopword_ratio(text_col)
    pr = punct_ratio(text_col)
    return (
        F.lit(0.4) * length_term
        + F.lit(0.3) * (F.lit(1.0) - pr)
        + F.lit(0.2) * diversity
        + F.lit(0.1) * (F.lit(1.0) - F.abs(sw - F.lit(0.1)))
    ).cast("double")


# Character-frequency lang-id: score each candidate language by marker
# character/digraph rates — a real (if crude) n-gram heuristic. With the
# synthetic corpus every doc is ASCII word-salad, so the interesting part
# is that the heuristic is deterministic and oracle-checkable; accuracy
# against the `lang` label is reported, not assumed.
LANG_MARKERS = {
    "en": ("th", "he", "er"),
    "es": ("os", "ar", "la"),
    "de": ("ch", "ei", "sch"),
    "fr": ("le", "ou", "es"),
    "zh": ("zh", "ng", "sh"),
}


def _marker_count(text_col: str, marker: str) -> Column:
    # occurrences = (len - len(remove(marker))) / len(marker)
    lowered = F.lower(F.col(text_col))
    return (
        (F.length(lowered) - F.length(F.replace(lowered, F.lit(marker), F.lit(""))))
        / F.lit(len(marker))
    ).cast("long")


def lang_scores(text_col: str = "text") -> dict[str, Column]:
    return {
        lang: sum((_marker_count(text_col, m) for m in markers), F.lit(0).cast("long"))
        for lang, markers in LANG_MARKERS.items()
    }


def predicted_lang(text_col: str = "text") -> Column:
    """argmax over marker scores; deterministic tie-break on lang name."""
    scores = lang_scores(text_col)
    pairs = F.array(
        *[
            F.struct(score.alias("score"), F.lit(lang).alias("lang"))
            for lang, score in sorted(scores.items())
        ]
    )
    # array_max on struct compares field-by-field: score then lang; ties
    # on score resolve to the lexicographically LAST lang — mirror that
    # exact rule in the oracle (max_by with composite ordering).
    return F.array_max(pairs).getField("lang")


def shingles(text_col: str = "text", k: int = 3) -> Column:
    """k-token shingles as strings: tokens[i..i+k-1] joined by spaces —
    pure higher-order functions, no UDF.

    Construction: zip_with over k shifted slices of the token array
    (NOT transform + element_at over a sequence). The element_at form
    embeds the tokenizer expression k times per lambda element, and
    downstream Generate/explode nodes re-evaluate their inlined input
    per OUTPUT row — measured 7.4 s vs 0.8 s at sf0.1 for the explode
    feeding MinHash. Slices evaluate the tokenizer O(k) times total and
    are cheap to re-evaluate. Short docs (< k tokens) yield [] (slice of
    length 0), matching the previous guard semantics."""
    toks = tokens_col(text_col)
    m = F.greatest(F.size(toks) - (k - 1), F.lit(0))
    parts = [F.slice(toks, j + 1, m) for j in range(k)]
    out = parts[k - 1]
    for j in range(k - 2, -1, -1):
        out = F.zip_with(parts[j], out, lambda a, b: F.concat_ws(" ", a, b))
    return out


def fingerprint(text_col: str = "text", k: int = 3) -> Column:
    """Document fingerprint: min-md5 over k-token shingles (the winnowing
    min-hash idea with one hash). Identical shingle-sets => identical
    fingerprint; md5 exists in both engines so it's oracle-exact."""
    return F.array_min(F.transform(shingles(text_col, k), F.md5))


# --------------------------------------------------------------------------
# SimHash — one-pass pandas UDF with an md5-defined bit contract.
#
# bit j of token w = bit (j%4) of hex digit j//4 of md5(w)   (j in 0..63)
# simhash bit j   = 1 iff sum over DISTINCT tokens of (2*bit - 1) >= 0
# output          = 64-char '0'/'1' string (MSB j=0 first)
# --------------------------------------------------------------------------


def _token_bits(w: str) -> np.ndarray:
    h = hashlib.md5(w.encode("utf-8")).hexdigest()
    digits = np.frombuffer(bytes.fromhex(h), dtype=np.uint8)  # 16 bytes
    # hex digit d (0..31): even index -> high nibble. Bits LSB-first per
    # nibble to match (value >> (j%4)) & 1.
    nibbles = np.empty(32, dtype=np.uint8)
    nibbles[0::2] = digits >> 4
    nibbles[1::2] = digits & 0xF
    j = np.arange(SIMHASH_BITS)
    return (nibbles[j // 4] >> (j % 4)) & 1


def simhash_udf(text_col: Column) -> Column:
    """Arrow-batched SimHash. r8 vectorization (the last per-token Python
    loop on a corpus path, VERDICT r7): md5 runs once per BATCH-UNIQUE
    token (not per occurrence), the sign matrix is gathered for all
    occurrences at once, and per-row sums are one np.add.reduceat over
    row-contiguous segments — chunked at row boundaries so the gathered
    temp stays bounded regardless of Arrow batch size. The md5 bit
    contract and the integer summation are unchanged, so x04/x78 oracle
    parity is preserved bit-for-bit."""

    @F.pandas_udf("string")
    def simhash(texts: pd.Series) -> pd.Series:
        tok_lists = [sorted(set((t or "").split())) for t in texts]
        out: list[str | None] = ["0" * SIMHASH_BITS] * len(tok_lists)
        rows = [i for i, tl in enumerate(tok_lists) if tl]
        if rows:
            flat = np.asarray(
                [w for i in rows for w in tok_lists[i]], dtype=object
            )
            uniq, inv = np.unique(flat, return_inverse=True)
            signs = np.empty((len(uniq), SIMHASH_BITS), dtype=np.int32)
            for u, w in enumerate(uniq):
                signs[u] = 2 * _token_bits(w).astype(np.int32) - 1
            lens = np.fromiter(
                (len(tok_lists[i]) for i in rows), dtype=np.int64, count=len(rows)
            )
            ends = np.cumsum(lens)
            # chunk at row boundaries: gathered temp <= ~CHUNK x 64 int32
            CHUNK = 1 << 18
            r0 = 0
            while r0 < len(rows):
                r1 = int(np.searchsorted(ends, ends[r0] - lens[r0] + CHUNK)) + 1
                r1 = min(max(r1, r0 + 1), len(rows))
                base = ends[r0] - lens[r0]
                starts = (ends[r0:r1] - lens[r0:r1] - base).astype(np.int64)
                acc = np.add.reduceat(signs[inv[base : ends[r1 - 1]]], starts, axis=0)
                chars = ((acc >= 0).astype(np.uint8) + 48).tobytes()
                for k in range(r1 - r0):
                    out[rows[r0 + k]] = chars[
                        k * SIMHASH_BITS : (k + 1) * SIMHASH_BITS
                    ].decode("ascii")
                r0 = r1
        return pd.Series(out)

    return simhash(text_col)


def simhash_sig_ctes(table: str = "documents") -> str:
    """CTE chain replaying simhash_udf bit-for-bit, ending in a ``sig``
    CTE of (doc_id, sig) — the COMPOSABLE form: near-dup oracles splice
    it directly ahead of their banding/verify tails instead of doing
    exact-substring ``.replace()`` surgery on ``simhash_oracle_sql``'s
    text (r14 ADVICE low: any whitespace drift made those replaces
    silently no-op into malformed SQL)."""
    return f"""tok AS (
    SELECT doc_id, unnest(list_distinct(regexp_split_to_array(trim(text), '\\s+'))) AS w
    FROM {table}
),
bits AS (
    SELECT doc_id, b.j,
           CAST((strpos('0123456789abcdef', substr(md5(w), CAST(b.j // 4 AS INT) + 1, 1)) - 1)
                // CAST(pow(2, b.j % 4) AS INT) AS INT) % 2 AS bit
    FROM tok CROSS JOIN (SELECT unnest(range(64)) AS j) b
),
sim AS (
    SELECT doc_id, j,
           CASE WHEN sum(2 * bit - 1) >= 0 THEN '1' ELSE '0' END AS sbit
    FROM bits GROUP BY doc_id, j
),
sig AS (
    SELECT doc_id, string_agg(sbit, '' ORDER BY j) AS sig
    FROM sim GROUP BY doc_id
)"""


def simhash_oracle_sql(table: str = "documents") -> str:
    """DuckDB SQL recomputing simhash_udf bit-for-bit."""
    return f"""
WITH {simhash_sig_ctes(table)}
SELECT doc_id, sig AS simhash FROM sig
"""


# --------------------------------------------------------------------------
# Curation building blocks shared by the batch queries (x16/x34/x35)
# --------------------------------------------------------------------------


def normalize_col(text_col: str = "text") -> Column:
    """Cleaning-stage normalization (x16): lowercase, non-alphanumerics
    to spaces, squash whitespace — all codegen'd regexp built-ins."""
    return F.trim(
        F.regexp_replace(
            F.regexp_replace(F.lower(F.col(text_col)), r"[^a-z0-9\s]", " "), r"\s+", " "
        )
    )


def curation_rules_over_tokens(toks: Column) -> dict[str, Column]:
    """The C4/Gopher keep rules over an ALREADY-TOKENIZED array column —
    the single rule source both forms share: ``curation_rules`` passes
    ``tokens_col(text_col)`` here, producing the exact expression trees
    it always produced, while a pipeline that materializes the token
    array once (x35) can filter on the stored attribute instead of
    letting pushdown re-inline split(trim(normalize(...))) into every
    conjunct (r16: that inlining ran the whole chain ~8x per row inside
    a filter pushed below the spread exchange — i.e. serially)."""
    wc = F.size(toks).cast("long")
    mwl = F.aggregate(
        toks, F.lit(0).cast("long"), lambda a, w: a + F.length(w)
    ).cast("double") / F.greatest(wc, F.lit(1))
    diversity = F.size(F.array_distinct(toks)).cast("long") / F.greatest(
        wc, F.lit(1)
    )
    stops = F.filter(toks, lambda w: F.lower(w).isin(*STOPWORDS))
    stop_ratio = (F.size(stops) / F.greatest(F.size(toks), F.lit(1))).cast("double")
    return {
        "ok_nwords": (wc >= 30) & (wc <= 2000),
        "ok_wordlen": (mwl >= 3.0) & (mwl <= 10.0),
        "ok_diversity": diversity > 0.3,
        "ok_stopword": stop_ratio >= 0.005,
    }


def curation_rules(text_col: str = "text") -> dict[str, Column]:
    """C4/Gopher-style keep rules as named boolean Columns — the single
    definition the batch filter chain (x34) and the composed pipeline
    (x35) share, so the two surfaces cannot drift."""
    return curation_rules_over_tokens(tokens_col(text_col))


def _conjunction(rules: dict[str, Column]) -> Column:
    vals = list(rules.values())
    out = vals[0]
    for r in vals[1:]:
        out = out & r
    return out


def curation_keep(text_col: str = "text") -> Column:
    """Conjunction of every curation rule."""
    return _conjunction(curation_rules(text_col))


def curation_keep_over_tokens(toks: Column) -> Column:
    """Conjunction of every curation rule over a token-array column."""
    return _conjunction(curation_rules_over_tokens(toks))


def unigram_logprob_scores(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document mean unigram log-probability — the self-trained
    language-model quality signal (the cheap proxy for CCNet-style
    perplexity filtering: docs whose tokens are improbable under the
    corpus' own unigram distribution are boilerplate/noise candidates).

    Two-phase plan, both phases one shuffle:
    - train: explode tokens once, groupBy(token) count (checkpointed —
      vocab-sized, bounded); the corpus-total divisor is a scalar
      re-aggregate of THAT frame broadcast back onto it. NOT a global
      window: the vocab grows with the corpus (Heaps' law), so a
      single-partition WindowExec over it is a needless chokepoint at
      100 TB — scalar agg + broadcast crossJoin is shape-equivalent and
      partition-parallel (the x103 pattern);
    - score: the exploded tokens re-join their logprob via a BROADCAST
      hash join (a natural-text vocab is heavy-tailed and bounded —
      ~millions of rows at 100 TB; cap to top-V with a smoothed floor if
      a tokenizer explosion ever unbounds it), then one groupBy(doc_id)
      mean. Every token is in-vocab by construction (trained on the
      same corpus), so no smoothing branch is needed.

    avg() of per-token doubles differs across engines only in summation
    order; rounding to 4 decimals absorbs it (same argument as every
    score column in this module)."""
    toks = docs.select(
        "doc_id", F.explode_outer(tokens_col(text_col)).alias("tok")
    ).where(F.col("tok").isNotNull())  # dedup._minhash_wide explode note
    counts = (
        toks.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .localCheckpoint(eager=True)
    )
    total = counts.agg(F.sum("cnt").alias("total"))
    vocab = counts.crossJoin(F.broadcast(total)).select(
        "tok", F.log(F.col("cnt") / F.col("total")).alias("logp")
    )
    return (
        toks.join(F.broadcast(vocab), "tok")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_tokens"),
            F.round(F.avg("logp"), 4).alias("avg_logprob"),
        )
    )


def unigram_logprob_oracle_sql() -> str:
    return """
WITH toks AS (
    SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS tok
    FROM documents
),
vocab AS (
    SELECT tok, count(*) AS cnt, sum(count(*)) OVER () AS total
    FROM toks GROUP BY tok
),
scored AS (
    SELECT t.doc_id, ln(v.cnt / v.total) AS logp
    FROM toks t JOIN vocab v ON t.tok = v.tok
)
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
       round(avg(logp), 4) AS avg_logprob
FROM scored GROUP BY doc_id
"""


# --------------------------------------------------------------------------
# Per-source quality-quantile pruning (x112) as reusable sufficient
# statistics: histogram -> decision. The histogram is the ONLY
# corpus-sized pass; it is exact-integer mergeable across shards and
# micro-batches (sum ``cnt`` per (source, q)), so the prune decision
# can always be recomputed from stored partials without re-scanning
# history — the same stored-partials discipline as the covariance
# statistics (operators/stats.py).
# --------------------------------------------------------------------------


def quality_histogram(docs: DataFrame) -> DataFrame:
    """(source, q, cnt): rounded-quality-score histogram per source —
    the bounded sufficient statistic for per-source quantile pruning.
    One map-side-combinable shuffle; <= |sources| x score-resolution
    bins regardless of corpus size. Null-text docs drop (no tokens, no
    score)."""
    return (
        docs.where(F.col("text").isNotNull())
        .select("source", F.round(quality_score(), 6).alias("q"))
        .groupBy("source", "q")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def quality_prune_report(hist: DataFrame, keep_frac: float = 0.3) -> DataFrame:
    """The decision half of per-source quantile pruning, computed
    entirely over the bounded histogram: keep the top ``keep_frac`` of
    each source's docs with ALL-OR-NOTHING tie groups (a score group is
    admitted only if the whole group fits inside the ceil(frac*n)
    budget — deterministic with no per-row tiebreak). Returns one row
    per source: n_docs, n_kept, kept_frac, quality_threshold (NULL +
    n_kept=0 when even the top group overflows the budget)."""
    hist = hist.localCheckpoint(eager=True)
    n = hist.groupBy("source").agg(F.sum("cnt").alias("n_docs"))
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("q"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = hist.withColumn("cum_ge", F.sum("cnt").over(w))
    thr = (
        cum.join(n, "source")
        .where(F.col("cum_ge") <= F.ceil(F.lit(keep_frac) * F.col("n_docs")))
        .groupBy("source")
        .agg(
            F.min("q").alias("quality_threshold"),
            F.max("cum_ge").cast("long").alias("n_kept"),
        )
    )
    return (
        n.join(F.broadcast(thr), "source", "left")
        .select(
            "source",
            F.col("n_docs").cast("long").alias("n_docs"),
            F.coalesce(F.col("n_kept"), F.lit(0)).cast("long").alias("n_kept"),
            F.round(
                F.coalesce(F.col("n_kept"), F.lit(0)) * 1.0 / F.col("n_docs"), 6
            ).alias("kept_frac"),
            "quality_threshold",
        )
    )


# --------------------------------------------------------------------------
# DSIR — data selection via importance resampling (hashed n-gram
# importance weights; Xie et al. 2023, the public recipe behind
# target-domain corpus selection for LLM pretraining)
# --------------------------------------------------------------------------

DSIR_BUCKETS = 512


def _dsir_bucket(f: Column, n_buckets: int) -> Column:
    """Feature -> hash bucket: first 8 md5 hex digits mod n_buckets
    (engine-identical; the oracle uses ('0x'||substr(md5,1,8))::BIGINT)."""
    return F.pmod(
        F.conv(F.substring(F.md5(f), 1, 8), 16, 10).cast("long"), F.lit(n_buckets)
    )


def dsir_weights(
    docs: DataFrame, target_pred: Column, text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS, carry_cols: tuple = ("lang",),
) -> DataFrame:
    """Per-doc DSIR importance log-weight: sum over the doc's hashed
    unigram+bigram features of ln p_target(bucket) - ln p_raw(bucket),
    with add-1 smoothing over the bucket space. Positive weight = the
    doc looks more like the target domain than the raw corpus — the
    resampling key for target-domain corpus selection.

    Float parity discipline (the x51 pattern, NOT the x101 one): the
    per-bucket log ratio stays a raw double and only the final per-doc
    sum is rounded (4 dp). Rounding each bucket's ratio onto a fine
    decimal grid first was tried and is WORSE: the rounded decimals sum
    onto exact half-way points of the final grid, where the engines'
    upstream double-rounding ulps (Spark HALF_UP on the exact binary vs
    DuckDB nearbyint on the scaled double) surface as +-1e-6 flips (13
    of 500 docs diverged). Raw doubles keep the noise at ~1e-14 (libm
    ulp x feature count), ten orders below the 4-dp grid.

    Scale: one corpus scan -> (doc, bucket) counts (one exchange);
    bucket stats are a FIXED n_buckets-row table broadcast back (the
    paper's hashed-feature trick is exactly what makes the model state
    O(buckets), not O(vocab)); per-doc weight is one more keyed
    aggregate. Docs with no features keep weight 0.
    """
    feats = F.concat(tokens_col(text_col), shingles(text_col, 2))
    fx = (
        docs.select(
            "doc_id",
            target_pred.alias("is_target"),
            F.explode_outer(feats).alias("f"),
        )
        .where(F.col("f").isNotNull())  # dedup._minhash_wide explode note
        .select("doc_id", "is_target", _dsir_bucket(F.col("f"), n_buckets).alias("b"))
    )
    doc_b = fx.groupBy("doc_id", "is_target", "b").agg(
        F.count(F.lit(1)).alias("c")
    ).localCheckpoint(eager=True)  # feeds stats AND the per-doc weight agg
    # (one corpus scan total; was 4 scans / 2 plan branches before r9)
    # scalar totals broadcast back (the x51 shape) rather than a
    # partition-less window over the bucket table — at 512 rows either
    # works, but the repo bans the global-window shape on principle
    # (it degenerates to one partition whenever the frame ISN'T bounded)
    stats = (
        doc_b.groupBy("b").agg(
            F.sum("c").alias("cr"),
            F.sum(F.when(F.col("is_target"), F.col("c")).otherwise(0)).alias("ct"),
        )
    )
    totals = stats.agg(
        F.sum("cr").alias("tot_r"), F.sum("ct").alias("tot_t")
    )
    lr = stats.crossJoin(F.broadcast(totals)).select(
        "b",
        (
            F.log((F.col("ct") + 1) / (F.col("tot_t") + n_buckets))
            - F.log((F.col("cr") + 1) / (F.col("tot_r") + n_buckets))
        ).alias("lr"),
    )
    w = (
        doc_b.join(F.broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(
            F.sum("c").cast("long").alias("n_feats"),
            F.sum(F.col("c") * F.col("lr")).alias("w_sum"),
        )
    )
    carry = [c for c in carry_cols if c in docs.columns]
    return (
        docs.select("doc_id", *carry, target_pred.alias("is_target"))
        .join(w, "doc_id", "left")
        .select(
            "doc_id",
            *carry,
            "is_target",
            F.coalesce(F.col("n_feats"), F.lit(0)).cast("long").alias("n_feats"),
            F.round(F.coalesce(F.col("w_sum"), F.lit(0.0)), 4).alias("log_weight"),
            (F.round(F.coalesce(F.col("w_sum"), F.lit(0.0)), 4) > 0).alias("selected"),
        )
    )


def dsir_oracle_sql(
    target_sql: str = "lang = 'en'", n_buckets: int = DSIR_BUCKETS
) -> str:
    """DuckDB replay of dsir_weights: same md5 buckets, same add-1
    smoothing, same raw-double log-ratio sum with the one final 4-dp
    round (x51 pattern — see dsir_weights for why not per-bucket
    decimals). ``target_sql`` is evaluated once, unqualified, inside a
    ``base`` CTE over ``documents`` — never rewritten textually (a
    substring replace would corrupt predicates naming e.g. ``language``)."""
    return f"""
WITH base AS (
    SELECT doc_id, lang, ({target_sql}) AS is_target, text FROM documents
),
toks AS (
    SELECT doc_id, lang, is_target,
           regexp_split_to_array(trim(text), '\\s+') AS t
    FROM base
),
fx AS (
    SELECT doc_id, is_target,
           ('0x' || substr(md5(f), 1, 8))::BIGINT % {n_buckets} AS b
    FROM (
        SELECT doc_id, is_target,
               unnest(t || list_transform(range(1, greatest(len(t), 1)),
                                          i -> t[i] || ' ' || t[i+1])) AS f
        FROM toks
    )
),
doc_b AS (
    SELECT doc_id, is_target, b, count(*) AS c FROM fx GROUP BY doc_id, is_target, b
),
raw AS (SELECT b, sum(c) AS cr FROM doc_b GROUP BY b),
tgt AS (SELECT b, sum(c) AS ct FROM doc_b WHERE is_target GROUP BY b),
lr AS (
    SELECT raw.b,
           ln((coalesce(ct, 0) + 1)
              / (sum(coalesce(ct, 0)) OVER () + {n_buckets}))
           - ln((cr + 1) / (sum(cr) OVER () + {n_buckets})) AS lr
    FROM raw LEFT JOIN tgt ON raw.b = tgt.b
),
w AS (
    SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_feats, sum(c * lr) AS w_sum
    FROM doc_b JOIN lr USING (b) GROUP BY doc_id
)
SELECT d.doc_id, d.lang, d.is_target,
       coalesce(w.n_feats, 0) AS n_feats,
       round(coalesce(w.w_sum, 0), 4) AS log_weight,
       round(coalesce(w.w_sum, 0), 4) > 0 AS selected
FROM base d LEFT JOIN w ON d.doc_id = w.doc_id
"""


# --------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, Table A1 — the named rule-based
# document filter of the public LLM-curation literature)
# --------------------------------------------------------------------------

# the paper's required-stopword list (>= 2 must appear)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")


def _gopher_exprs(text_col: str = "text") -> dict[str, Column]:
    """The Gopher rule expressions as pure per-row Columns, evaluated by
    the batch report (gopher_rules/x118)."""
    t = tokens_col(text_col)
    wc = F.size(t)
    sum_len = F.aggregate(
        t, F.lit(0).cast("long"), lambda acc, w: acc + F.length(w).cast("long")
    )
    mean_wl = F.round(sum_len / wc, 4)
    n_stop = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(t, F.lower)),
            F.array(*[F.lit(s) for s in GOPHER_STOPWORDS]),
        )
    )
    frac_alpha = F.round(
        F.size(F.filter(t, lambda w: w.rlike("[a-zA-Z]"))) / wc, 4
    )
    txt = F.col(text_col)
    n_hash = F.length(txt) - F.length(F.replace(txt, F.lit("#"), F.lit("")))
    n_ellipsis = (
        F.length(txt) - F.length(F.replace(txt, F.lit("..."), F.lit("")))
    ) / 3
    sym_ratio = F.round((n_hash + n_ellipsis) / wc, 4)
    lines = F.split(txt, "\n")
    n_lines = F.size(lines)
    frac_bullet = F.round(
        F.size(
            F.filter(
                lines,
                lambda l: F.startswith(F.ltrim(l), F.lit("-"))
                | F.startswith(F.ltrim(l), F.lit("*"))
                | F.startswith(F.ltrim(l), F.lit("•")),
            )
        )
        / n_lines,
        4,
    )
    frac_ell_end = F.round(
        F.size(F.filter(lines, lambda l: F.endswith(F.rtrim(l), F.lit("...")))) / n_lines,
        4,
    )
    keep = (
        wc.between(50, 100000)
        & mean_wl.between(3, 10)
        & (sym_ratio <= 0.1)
        & (frac_bullet < 0.9)
        & (frac_ell_end < 0.3)
        & (frac_alpha >= 0.8)
        & (n_stop >= 2)
    )
    return {
        "n_words": wc.cast("long"),
        "mean_word_len": mean_wl,
        "n_stopwords": n_stop.cast("long"),
        "frac_alpha_words": frac_alpha,
        "symbol_ratio": sym_ratio,
        "keep": keep,
    }


def gopher_rules(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc Gopher rule report: the paper's document-level filters
    computed faithfully — 50 <= words <= 100k, 3 <= mean word length
    <= 10, symbol-to-word ratio ('#'/'...') <= 0.1, < 90% bulleted
    lines, < 30% '...'-ending lines, >= 80% words containing an
    alphabetic char, >= 2 required stopwords — and the conjunction as
    ``keep``. On this corpus the length/stopword rules discriminate and
    the symbol/line rules pass vacuously (no newlines or punctuation in
    the synthetic text), but every rule is computed, not shortcut.

    All codegen'd built-ins, one scan, zero exchanges — the same
    filter-chain posture as x34; ratios rounded to 4 dp for engine
    parity (pure per-row arithmetic, no summation-order exposure)."""
    e = _gopher_exprs(text_col)
    return docs.select(
        "doc_id",
        e["n_words"].alias("n_words"),
        e["mean_word_len"].alias("mean_word_len"),
        e["n_stopwords"].alias("n_stopwords"),
        e["frac_alpha_words"].alias("frac_alpha_words"),
        e["symbol_ratio"].alias("symbol_ratio"),
        e["keep"].alias("keep"),
    )


def gopher_rules_oracle_sql(
    source_sql: str = "SELECT doc_id, text FROM documents",
) -> str:
    stops = ", ".join(f"'{s}'" for s in GOPHER_STOPWORDS)
    return f"""
WITH base AS (
    SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS t,
           string_split(text, chr(10)) AS lines
    FROM ({source_sql})
),
m AS (
    SELECT doc_id,
           len(t) AS wc,
           round(list_sum(list_transform(t, w -> len(w))) * 1.0 / len(t), 4) AS mean_wl,
           len(list_intersect(list_distinct(list_transform(t, w -> lower(w))),
                              [{stops}])) AS n_stop,
           round(len(list_filter(t, w -> regexp_matches(w, '[a-zA-Z]'))) * 1.0 / len(t), 4) AS frac_alpha,
           round(((len(text) - len(replace(text, '#', '')))
                  + (len(text) - len(replace(text, '...', ''))) / 3.0) * 1.0 / len(t), 4) AS sym_ratio,
           round(len(list_filter(lines, l -> starts_with(ltrim(l), '-')
                                          OR starts_with(ltrim(l), '*')
                                          OR starts_with(ltrim(l), chr(8226)))) * 1.0 / len(lines), 4) AS frac_bullet,
           round(len(list_filter(lines, l -> ends_with(rtrim(l), '...'))) * 1.0 / len(lines), 4) AS frac_ell
    FROM base
)
SELECT doc_id,
       CAST(wc AS BIGINT) AS n_words,
       mean_wl AS mean_word_len,
       CAST(n_stop AS BIGINT) AS n_stopwords,
       frac_alpha AS frac_alpha_words,
       sym_ratio AS symbol_ratio,
       (wc BETWEEN 50 AND 100000) AND (mean_wl BETWEEN 3 AND 10)
       AND sym_ratio <= 0.1 AND frac_bullet < 0.9 AND frac_ell < 0.3
       AND frac_alpha >= 0.8 AND n_stop >= 2 AS keep
FROM m
"""


# --------------------------------------------------------------------------
# Trained model-based quality classifier (the GPT-3 appendix-A stage:
# a logistic model over hashed text features, trained on a curated
# positive slice, scored over the whole corpus)
# --------------------------------------------------------------------------

QC_BUCKETS = 64
QC_LR = 0.3
QC_GD_ROUNDS = 2
QC_SELECT_FRAC = 0.2


def _round6_away(x: float) -> float:
    """6-dp round, half-AWAY-from-zero — DuckDB's round() rule. Python's
    built-in round() is half-to-even, so a weight landing within 1 ulp
    of a 0.5e-6 boundary could snap to a different 6-dp grid point than
    the oracle and then diverge through subsequent gradient rounds."""
    return math.copysign(math.floor(abs(x) * 1e6 + 0.5) / 1e6, x)


def _qc_weight_expr(w: dict, n_buckets: int) -> str:
    """Literal-Catalyst weight lookup for a trained model: bucket b in
    [-1, n_buckets) -> index b+2 (one generated SQL string — the
    similarity.py codebook pattern)."""
    vals = ",".join(
        f"CAST('{w.get(b, 0.0)!r}' AS DOUBLE)" for b in range(-1, n_buckets)
    )
    return f"element_at(array({vals}), cast(b as int) + 2)"


def quality_classifier_fit(
    docs: DataFrame,
    curated_pred: Column,
    text_col: str = "text",
    n_buckets: int = QC_BUCKETS,
    gd_rounds: int = QC_GD_ROUNDS,
    lr: float = QC_LR,
) -> dict:
    """Batch fit of the x119 quality model ALONE: NB log-count-ratio
    init from exact integer presence counts + ``gd_rounds``
    6-dp-rounded logistic gradient steps (see quality_classifier for
    the full discipline). Returns {bucket: weight} with the intercept
    at bucket -1 — the <= n_buckets+1-float broadcastable model for
    stateless scoring (quality_score_col)."""
    import math

    base = docs.select("doc_id", curated_pred.cast("double").alias("y"), tokens_col(text_col).alias("t"))
    pres = (
        base.select("doc_id", "y", F.explode_outer(F.array_distinct("t")).alias("tok"))
        .where(F.col("tok").isNotNull())  # dedup._minhash_wide explode note
        .select("doc_id", "y", _dsir_bucket(F.col("tok"), n_buckets).alias("b"))
        .distinct()
        .withColumn("c", F.lit(1.0))
    )
    fx = pres.unionByName(
        base.select("doc_id", "y", F.lit(-1).cast("long").alias("b"), F.lit(1.0).alias("c"))
    ).localCheckpoint(eager=True)
    tot = base.agg(
        F.sum("y").alias("np"), F.sum(F.lit(1.0) - F.col("y")).alias("nq")
    ).first()
    n_pos, n_neg = float(tot["np"]), float(tot["nq"])
    n_docs = n_pos + n_neg
    nb = pres.groupBy("b").agg(
        F.sum(F.when(F.col("y") == 1.0, F.col("c")).otherwise(0.0)).alias("cp"),
        F.sum(F.when(F.col("y") == 0.0, F.col("c")).otherwise(0.0)).alias("cq"),
    ).collect()
    w = {
        int(r["b"]): _round6_away(
            math.log((r["cp"] + 1) / (n_pos + 2)) - math.log((r["cq"] + 1) / (n_neg + 2))
        )
        for r in nb
    }
    w[-1] = _round6_away(math.log(n_pos / n_neg))
    for _ in range(gd_rounds):
        s = (
            fx.withColumn("wv", F.expr(_qc_weight_expr(w, n_buckets)))
            .groupBy("doc_id")
            .agg(F.sum(F.col("c") * F.col("wv")).alias("s"), F.first("y").alias("y"))
            .withColumn("r", F.expr("y - 1/(1+exp(-s))"))
        )
        g = (
            fx.join(s.select("doc_id", "r"), "doc_id")
            .groupBy("b")
            .agg(F.sum(F.col("c") * F.col("r")).alias("g"))
            .collect()
        )
        for row in g:
            b = int(row["b"])
            # Match the oracle's operation order exactly — g is divided
            # by n_docs FIRST, then scaled by lr (the oracle's g{i} CTE
            # carries sum(...)/n) — and round half-away-from-zero like
            # DuckDB's round(), not Python's half-to-even.
            w[b] = _round6_away(w[b] + lr * (float(row["g"]) / n_docs))
    return w


def quality_score_col(
    w: dict, text_col: str = "text", n_buckets: int = QC_BUCKETS
) -> Column:
    """Stateless per-row x119 quality score under a FIXED trained
    model: sigmoid(intercept + sum over distinct-token presence buckets
    of the literal weight) — no explode, no join, no state. 4-dp round
    matches the batch query's output grid."""
    vals = ",".join(
        f"CAST('{w.get(b, 0.0)!r}' AS DOUBLE)" for b in range(n_buckets)
    )
    arr = F.expr(f"array({vals})")
    feats = F.array_distinct(
        F.transform(
            F.array_distinct(tokens_col(text_col)),
            lambda t: _dsir_bucket(t, n_buckets),
        )
    )
    s = F.aggregate(
        feats,
        F.lit(float(w.get(-1, 0.0))),
        lambda acc, b: acc + F.element_at(arr, (b + 1).cast("int")),
    )
    return F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-s)), 4)


def quality_classifier(
    docs: DataFrame,
    curated_pred: Column,
    text_col: str = "text",
    n_buckets: int = QC_BUCKETS,
    gd_rounds: int = QC_GD_ROUNDS,
    lr: float = QC_LR,
    select_frac: float = QC_SELECT_FRAC,
) -> DataFrame:
    """Model-based quality filter: logistic scorer over hashed unigram
    PRESENCE features (+ intercept), trained against a curated positive
    slice and scored over the whole corpus — the named classifier stage
    of the public LLM-curation pipelines (GPT-3 appendix A trains a
    logistic regression on hashed word features of a curated positive
    class; CCNet/LLaMA use the same shape with a fastText model) next to
    the rule-based filters (x34/x118).

    Training is FULLY ORACLE-REPLAYABLE (quality_classifier_oracle_sql
    reruns it in DuckDB SQL):

    1. init = naive-Bayes log-count-ratio weights (Wang & Manning 2012's
       NB-LR baseline): per hashed bucket, add-1-smoothed presence-rate
       log ratio curated-vs-rest, intercept ln(n_pos/n_neg) — closed
       form from EXACT integer counts (the x74 discipline);
    2. ``gd_rounds`` full-batch logistic gradient steps refine it:
       w_b += lr * sum((y - sigmoid(w.x)) * x_b) / N, each round's
       weights rounded to 6 dp on both engines so the ~1e-13
       summation-order noise never crosses a grid boundary (the x116
       float-parity pattern, applied per round).

    Selection is a PER-SOURCE budget — keep the top ``select_frac`` of
    each source by (score desc, doc_id) — the realistic curation quota
    (absolute sigmoid cuts are miscalibrated under class imbalance);
    rank ties are impossible (doc_id breaks them), so the flag is
    deterministic on both engines.

    Scale posture: model state is <= n_buckets+1 weights at ANY corpus
    size (the hashing trick, as in x116); training
    (quality_classifier_fit) is per-round one pass over a checkpointed
    (doc, bucket) presence table + a 65-row collect; scoring is the
    STATELESS per-row quality_score_col (literal-array lookup, zero
    Python, zero joins); the final window is partitioned by
    source, never corpus-wide.
    """
    w = quality_classifier_fit(docs, curated_pred, text_col, n_buckets, gd_rounds, lr)
    win = Window.partitionBy("source").orderBy(F.desc("score"), F.asc("doc_id"))
    cnt_win = Window.partitionBy("source")
    return (
        docs.select(
            "doc_id",
            "source",
            (curated_pred.cast("double") == 1.0).alias("is_curated"),
            quality_score_col(w, text_col, n_buckets).alias("score"),
        )
        .withColumn("rk", F.row_number().over(win))
        .withColumn("ns", F.count(F.lit(1)).over(cnt_win))
        .select(
            "doc_id",
            "source",
            "is_curated",
            "score",
            (F.col("rk") <= F.ceil(F.lit(select_frac) * F.col("ns"))).alias("keep"),
        )
    )


def quality_classifier_oracle_sql(
    curated_sql: str,
    n_buckets: int = QC_BUCKETS,
    gd_rounds: int = QC_GD_ROUNDS,
    lr: float = QC_LR,
    select_frac: float = QC_SELECT_FRAC,
) -> str:
    """DuckDB replay of quality_classifier: identical md5 presence
    buckets, identical NB init from exact integer counts, the same
    ``gd_rounds`` 6-dp-rounded gradient steps, the same per-source
    budgeted selection. ``curated_sql`` is evaluated once over the
    tokenized ``base`` CTE (column ``t`` holds the token array), never
    rewritten textually."""
    chain = []
    prev = "w0"
    for i in range(1, gd_rounds + 1):
        chain.append(f""",
s{i} AS (SELECT doc_id, y, sum(c*w) s FROM fx JOIN {prev} USING (b) GROUP BY doc_id, y),
g{i} AS (SELECT fx.b, sum((fx.y - 1/(1+exp(-s{i}.s)))*fx.c)/(SELECT n FROM nn) g
         FROM fx JOIN s{i} USING (doc_id) GROUP BY fx.b),
w{i} AS (SELECT {prev}.b, round({prev}.w + {lr!r}*g{i}.g, 6) w
         FROM {prev} JOIN g{i} ON {prev}.b = g{i}.b)""")
        prev = f"w{i}"
    return f"""
WITH base AS (
    SELECT doc_id, source, regexp_split_to_array(trim(text), '\\s+') AS t,
           CASE WHEN ({curated_sql}) THEN 1.0 ELSE 0.0 END AS y
    FROM documents
),
pres AS (
    SELECT DISTINCT doc_id, y,
           ('0x' || substr(md5(tok), 1, 8))::BIGINT % {n_buckets} AS b, 1.0 AS c
    FROM (SELECT doc_id, y, unnest(list_distinct(t)) AS tok FROM base)
),
fx AS (
    SELECT doc_id, y, b, c FROM pres
    UNION ALL SELECT doc_id, y, -1 AS b, 1.0 AS c FROM base
),
nn AS (SELECT count(*)::DOUBLE n FROM base),
cnt AS (SELECT sum(y) np, sum(1-y) nq FROM base),
nb AS (
    SELECT b,
           round(ln((sum(CASE WHEN y = 1 THEN c ELSE 0 END) + 1) / ((SELECT np FROM cnt) + 2))
               - ln((sum(CASE WHEN y = 0 THEN c ELSE 0 END) + 1) / ((SELECT nq FROM cnt) + 2)), 6) w
    FROM pres GROUP BY b
),
w0 AS (
    SELECT b, w FROM nb
    UNION ALL SELECT -1 AS b, round(ln((SELECT np FROM cnt) / (SELECT nq FROM cnt)), 6) AS w
){"".join(chain)},
sfin AS (
    SELECT doc_id, y, round(1/(1+exp(-sum(c*w))), 4) score
    FROM fx JOIN {prev} USING (b) GROUP BY doc_id, y
),
rk AS (
    SELECT b.doc_id, b.source, s.y = 1.0 AS is_curated, s.score,
           row_number() OVER (PARTITION BY b.source ORDER BY s.score DESC, s.doc_id) r,
           count(*) OVER (PARTITION BY b.source) ns
    FROM sfin s JOIN base b ON s.doc_id = b.doc_id
)
SELECT doc_id, source, is_curated, score,
       r <= CAST(ceil({select_frac!r} * ns) AS BIGINT) AS keep
FROM rk
"""


# --------------------------------------------------------------------------
# Self-trained char-trigram naive-Bayes language ID (the CLD/CCNet-style
# statistical model, superseding the fixed-marker heuristic of x12)
# --------------------------------------------------------------------------

NBLID_BUCKETS = 256


def nb_langid(
    docs: DataFrame,
    text_col: str = "text",
    lang_col: str = "lang",
    n_buckets: int = NBLID_BUCKETS,
) -> DataFrame:
    """Character-trigram naive-Bayes language identification, trained on
    the labeled corpus itself and scored back over it (the CLD2/CCNet
    shape: per-language character-n-gram log-probability tables; x12's
    hand-picked digraph markers replaced by a LEARNED model).

    Training: trigrams are hashed into ``n_buckets`` md5 buckets (the
    x116 hashing trick — the model is a fixed langs x buckets table at
    ANY corpus size); per-language bucket counts are EXACT integers;
    log-probs are add-1 smoothed ln((c+1)/(C_lang+n_buckets)) computed
    identically in both engines from those integers. Prior =
    ln(n_docs_lang/n_docs).

    Prediction: argmax over languages of prior + sum(c_bucket * logp),
    the per-(doc,lang) sum ROUNDED to 4 dp before the argmax so the
    ~1e-12 cross-engine summation-order noise cannot flip a comparison
    (ties then break deterministically to the lexicographically LAST
    language — Spark's struct array_max rule, mirrored in the oracle
    with a DESC composite ordering).

    Scale: one corpus scan -> (doc, bucket) counts (one exchange,
    checkpointed — it feeds training AND scoring); the model (<= langs
    x n_buckets log-probs + priors) is collected once — bounded state —
    and re-emitted as literal-Catalyst weight arrays (the x119/codebook
    pattern), so scoring is ZERO joins: one element_at per language per
    feature row, one keyed aggregate per doc, argmax in-row. Python
    touches only the collected model; no per-row Python anywhere.
    """
    txt = F.col(text_col)
    tris = F.when(
        F.length(txt) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.length(txt) - 2),
            lambda i: txt.substr(i, F.lit(3)),
        ),
    ).otherwise(F.array().cast("array<string>"))
    fx = (
        docs.select("doc_id", F.col(lang_col).alias("labeled_lang"), F.explode_outer(tris).alias("tri"))
        .where(F.col("tri").isNotNull())  # dedup._minhash_wide explode note
        .select("doc_id", "labeled_lang", _dsir_bucket(F.col("tri"), n_buckets).alias("b"))
        .groupBy("doc_id", "labeled_lang", "b")
        .agg(F.count(F.lit(1)).cast("double").alias("c"))
    )
    # sentinel zero-count feature per doc: guarantees every doc scores
    # against every language (a doc too short for any trigram falls back
    # to the prior argmax instead of vanishing from the output)
    fx = fx.unionByName(
        docs.select(
            "doc_id",
            F.col(lang_col).alias("labeled_lang"),
            F.lit(-1).cast("long").alias("b"),
            F.lit(0.0).alias("c"),
        )
    )
    # fx feeds FOUR consumers (model counts, the grid's distinct-bucket
    # list, scoring, and totals via mc) — without the checkpoint the
    # trigram explode + md5 pipeline re-executes per consumer
    # (8.2 -> ~3 s at sf0.1; the x92 cross-action lineage lesson)
    fx = fx.localCheckpoint(eager=True)
    import math

    # ONE training collect (r16, VERDICT r15 item 7 job-count work): the
    # per-language doc counts previously came from a SECOND aggregate
    # re-scanning ``docs``, but every doc contributes exactly one
    # sentinel row (b = -1) to fx, so counting rows per (lang, b) group
    # in the same aggregate yields nd[lang] for free — one job and one
    # input scan fewer per call (x120 standalone, x130's langid leg).
    mc_rows = (
        fx.groupBy(F.col("labeled_lang").alias("lang"), "b")
        .agg(F.sum("c").alias("mc"), F.count(F.lit(1)).alias("n"))
        .collect()
    )
    lang_counts = {r["lang"]: r["n"] for r in mc_rows if int(r["b"]) == -1}
    # bounded model state (<= langs x n_buckets + langs), collected once
    # and re-emitted as literal-Catalyst weight arrays — the x119/codebook
    # pattern. Scoring is then ZERO joins: per fx row, one element_at per
    # language; one keyed aggregate per doc. (The r9 first cut scored via
    # a broadcast grid join -> 5x row expansion + 20 exchanges; this form
    # is 2 training aggregates + 1 scoring exchange.)
    n_total = float(sum(lang_counts.values()))
    langs_sorted = sorted(lang_counts)
    prior = {
        lang: math.log(float(nd) / n_total) for lang, nd in lang_counts.items()
    }
    cl = {lang: 0.0 for lang in langs_sorted}
    counts: dict = {}
    seen_b = set()
    for r in mc_rows:
        if int(r["b"]) >= 0:
            cl[r["lang"]] += float(r["mc"])
            counts[(r["lang"], int(r["b"]))] = float(r["mc"])
            seen_b.add(int(r["b"]))

    def logp(lang: str, b: int) -> float:
        return math.log(
            (counts.get((lang, b), 0.0) + 1) / (cl[lang] + n_buckets)
        )

    def arr_expr(lang: str) -> str:
        # index 1 = sentinel bucket -1 (contributes 0); buckets never seen
        # in the corpus cannot appear in fx, their slot value is unused
        vals = ["CAST('0.0' AS DOUBLE)"] + [
            f"CAST('{logp(lang, b)!r}' AS DOUBLE)" for b in range(n_buckets)
        ]
        return f"element_at(array({','.join(vals)}), cast(b as int) + 2)"

    sums = [
        F.sum(F.col("c") * F.expr(arr_expr(lang))).alias(f"_ll_{i}")
        for i, lang in enumerate(langs_sorted)
    ]
    scored = fx.groupBy("doc_id", "labeled_lang").agg(*sums)
    cand = F.array(
        *[
            F.struct(
                F.round(F.col(f"_ll_{i}") + F.lit(prior[lang]), 4).alias("s4"),
                F.lit(lang).alias("cand"),
            )
            for i, lang in enumerate(langs_sorted)
        ]
    )
    best = scored.select(
        "doc_id", "labeled_lang", F.array_max(cand).alias("m")
    )
    return best.select(
        "doc_id",
        "labeled_lang",
        F.col("m.cand").alias("predicted_lang"),
        (F.col("m.cand") == F.col("labeled_lang")).alias("is_match"),
        F.col("m.s4").alias("top_logprob"),
    )


def nb_langid_oracle_sql(
    n_buckets: int = NBLID_BUCKETS,
    source_sql: str = "SELECT doc_id, lang, text FROM documents",
) -> str:
    """DuckDB replay of nb_langid: identical md5 trigram buckets, the
    same exact-integer counts and add-1 smoothed logs, the same 4-dp
    round before argmax; ties resolve to the lexicographically LAST
    language (ORDER BY s4 DESC, cand DESC — the mirror of Spark's
    struct max rule). ``source_sql`` must yield (doc_id, lang, text) —
    the x130 chain feeds extracted main text through here."""
    return f"""
WITH base AS (SELECT doc_id, lang AS labeled_lang, text FROM ({source_sql})),
tris AS (
    SELECT doc_id, labeled_lang,
           ('0x' || substr(md5(tri), 1, 8))::BIGINT % {n_buckets} AS b
    FROM (
        SELECT doc_id, labeled_lang,
               unnest(list_transform(range(1, greatest(len(text) - 1, 1)),
                                     i -> substr(text, i, 3))) AS tri
        FROM base
    )
),
fx AS (
    SELECT doc_id, labeled_lang, b, count(*)::DOUBLE c
    FROM tris GROUP BY doc_id, labeled_lang, b
    UNION ALL SELECT doc_id, labeled_lang, -1 AS b, 0.0 AS c FROM base
),
mc AS (SELECT labeled_lang AS lang, b, sum(c) mc FROM fx GROUP BY 1, 2),
totals AS (SELECT lang, sum(mc) cl FROM mc GROUP BY lang),
langs AS (SELECT labeled_lang AS lang, count(*)::DOUBLE nd FROM base GROUP BY 1),
prior AS (SELECT lang, ln(nd / (SELECT sum(nd) FROM langs)) lp FROM langs),
grid AS (
    SELECT t.lang, bb.b,
           ln((coalesce(m.mc, 0) + 1) / (t.cl + {n_buckets})) logp
    FROM (SELECT DISTINCT b FROM fx WHERE b >= 0) bb
    CROSS JOIN totals t
    LEFT JOIN mc m ON m.lang = t.lang AND m.b = bb.b
    UNION ALL SELECT lang, -1 AS b, 0.0 AS logp FROM langs
),
scored AS (
    SELECT fx.doc_id, fx.labeled_lang, g.lang AS cand,
           round(sum(fx.c * g.logp) + any_value(p.lp), 4) s4
    FROM fx JOIN grid g USING (b) JOIN prior p ON p.lang = g.lang
    GROUP BY fx.doc_id, fx.labeled_lang, g.lang
),
best AS (
    SELECT doc_id, labeled_lang, cand AS predicted_lang, s4 AS top_logprob
    FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id
                                     ORDER BY s4 DESC, cand DESC) rn
        FROM scored
    )
    WHERE rn = 1
)
SELECT doc_id, labeled_lang, predicted_lang,
       CAST(predicted_lang = labeled_lang AS BOOLEAN) AS is_match,
       top_logprob
FROM best
"""


# --------------------------------------------------------------------------
# Gopher REPETITION rules (Rae et al. 2021, Table A1's second half —
# the within-document repetition filters next to x118's quality rules)
# --------------------------------------------------------------------------

# (threshold, n) pairs straight from the paper: top n-gram char fraction
# caps for n=2..4, duplicate n-gram char fraction caps for n=5..10
GOPHER_TOP_NGRAM = ((2, 0.20), (3, 0.18), (4, 0.16))
GOPHER_DUP_NGRAM = ((5, 0.15), (6, 0.14), (7, 0.13), (8, 0.12), (9, 0.11), (10, 0.10))
GOPHER_DUP_LINE_FRAC = 0.30
GOPHER_DUP_LINE_CHAR_FRAC = 0.20


def gopher_repetition(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-doc Gopher repetition report (Rae et al. 2021 Table A1,
    second half): duplicate-line fraction and duplicate-line character
    fraction (0.30/0.20 caps), top 2/3/4-gram character coverage
    (0.20/0.18/0.16), duplicate 5..10-gram character coverage
    (0.15..0.10), conjunction as ``keep`` — completing the paper's
    named filter set next to x118's quality rules.

    Formula notes (the deterministic variant, mirrored exactly in the
    oracle): character fractions count every OCCURRENCE of a gram/line
    at its string length over the total text length (the common
    count*len implementation; positional overlap de-dup is not
    relationally expressible and the threshold semantics survive);
    "top n-gram" is the maximum coverage count*len over distinct grams
    — a scalar max, so tie-handling cannot diverge. Paragraph rules
    share the line mechanics on the line split (single-line corpus;
    columns still computed, not shortcut).

    Plan: ONE scan builds a single (level, value) array per doc —
    lines at level 0, n-grams at levels 2..10 (shingles evaluated once
    per level, never inside a per-element lambda — the x117 trap is a
    nested filter-per-distinct, O(|grams|x|distinct|) per row) — then
    one explode, one (doc, level, value) count aggregate, one per-doc
    conditional-aggregation rollup: 2 exchanges total, linear in
    corpus size."""
    txt = F.col(text_col)
    ns = [n for n, _ in list(GOPHER_TOP_NGRAM) + list(GOPHER_DUP_NGRAM)]
    # x117 discipline: NEVER feed a computed multi-level array into
    # explode (Generate re-evaluates its inlined child per OUTPUT row —
    # the concat-of-9-shingle-levels form measured 19 s at sf0.1).
    # Instead posexplode tokens ONCE and build every gram level from
    # lead() over one (doc, pos) window: one exchange, each token
    # evaluated once, stack() unpivots levels with a shuffle-free Expand.
    toks = docs.select(
        "doc_id", F.posexplode_outer(tokens_col(text_col)).alias("pos", "w")
    ).where(F.col("w").isNotNull())  # dedup._minhash_wide explode note
    wspec = Window.partitionBy("doc_id").orderBy("pos")
    leads = [F.col("w")] + [
        F.lead("w", i).over(wspec) for i in range(1, max(ns))
    ]
    gram_cols = [
        F.when(leads[n - 1].isNotNull(), F.concat_ws(" ", *leads[:n])).alias(f"g{n}")
        for n in ns
    ]
    stack_args = ", ".join(f"{n}, g{n}" for n in ns)
    fx_grams = (
        toks.select("doc_id", *gram_cols)
        .selectExpr("doc_id", f"stack({len(ns)}, {stack_args}) AS (n, v)")
        .where(F.col("v").isNotNull())
    )
    fx_lines = docs.select(
        "doc_id",
        F.lit(0).alias("n"),
        F.explode(F.split(txt, "\n")).alias("v"),
    )
    fx = (
        fx_grams.unionByName(fx_lines)
        .groupBy("doc_id", "n", "v")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    cov = F.col("c") * F.length("v").cast("long")
    per_level = fx.groupBy("doc_id", "n").agg(
        F.max(cov).alias("top_cov"),
        F.sum(F.when(F.col("c") >= 2, cov).otherwise(F.lit(0))).alias("dup_cov"),
        F.sum("c").alias("n_items"),
        F.count(F.lit(1)).alias("n_distinct"),
    )

    def lv(n: int, col: str):
        return F.max(F.when(F.col("n") == n, F.col(col)))

    rolled = per_level.groupBy("doc_id").agg(
        F.round((lv(0, "n_items") - lv(0, "n_distinct")) / lv(0, "n_items"), 4).alias(
            "dup_line_frac"
        ),
        lv(0, "dup_cov").alias("_line_dup_cov"),
        *[
            F.coalesce(lv(n, "top_cov"), F.lit(0)).alias(f"_top{n}")
            for n, _ in GOPHER_TOP_NGRAM
        ],
        *[
            F.coalesce(lv(n, "dup_cov"), F.lit(0)).alias(f"_dup{n}")
            for n, _ in GOPHER_DUP_NGRAM
        ],
    )
    base = docs.select(
        "doc_id", F.greatest(F.length(txt), F.lit(1)).alias("_tc")
    )
    j = base.join(rolled, "doc_id")
    cols = [
        F.col("doc_id"),
        F.col("dup_line_frac"),
        F.round(F.col("_line_dup_cov") / F.col("_tc"), 4).alias("dup_line_char_frac"),
    ]
    keep = (F.col("dup_line_frac") <= GOPHER_DUP_LINE_FRAC) & (
        F.round(F.col("_line_dup_cov") / F.col("_tc"), 4) <= GOPHER_DUP_LINE_CHAR_FRAC
    )
    for n, cap in GOPHER_TOP_NGRAM:
        frac = F.round(F.col(f"_top{n}") / F.col("_tc"), 4)
        cols.append(frac.alias(f"top_{n}gram_char_frac"))
        keep = keep & (frac <= cap)
    for n, cap in GOPHER_DUP_NGRAM:
        frac = F.round(F.col(f"_dup{n}") / F.col("_tc"), 4)
        cols.append(frac.alias(f"dup_{n}gram_char_frac"))
        keep = keep & (frac <= cap)
    cols.append(keep.alias("keep"))
    return j.select(*cols)


def gopher_repetition_oracle_sql() -> str:
    """DuckDB replay of gopher_repetition: identical shingle
    construction (space-joined token windows), identical count*len
    coverage formulas, same 4-dp rounds and thresholds."""
    pieces = []
    keeps = [
        f"dup_line_frac <= {GOPHER_DUP_LINE_FRAC}",
        f"dup_line_char_frac <= {GOPHER_DUP_LINE_CHAR_FRAC}",
    ]
    for n, cap in GOPHER_TOP_NGRAM:
        pieces.append(f"""
           round(coalesce(list_max(list_transform(list_distinct(g{n}),
               d -> len(list_filter(g{n}, x -> x = d)) * len(d))), 0)
               * 1.0 / greatest(len(text), 1), 4) AS top_{n}gram_char_frac""")
        keeps.append(f"top_{n}gram_char_frac <= {cap}")
    for n, cap in GOPHER_DUP_NGRAM:
        pieces.append(f"""
           round(coalesce(list_sum(list_transform(list_distinct(g{n}),
               d -> CASE WHEN len(list_filter(g{n}, x -> x = d)) >= 2
                    THEN len(list_filter(g{n}, x -> x = d)) * len(d)
                    ELSE 0 END)), 0)
               * 1.0 / greatest(len(text), 1), 4) AS dup_{n}gram_char_frac""")
        keeps.append(f"dup_{n}gram_char_frac <= {cap}")
    grams = ",\n".join(
        f"""           list_transform(range(1, greatest(len(t) - {n} + 2, 1)),
               i -> array_to_string(t[i : i + {n} - 1], ' ')) AS g{n}"""
        for n, _ in list(GOPHER_TOP_NGRAM) + list(GOPHER_DUP_NGRAM)
    )
    return f"""
WITH base AS (
    SELECT doc_id, text, regexp_split_to_array(trim(text), '\\s+') AS t,
           string_split(text, chr(10)) AS lines
    FROM documents
),
g AS (
    SELECT doc_id, text, lines,
{grams}
    FROM base
),
m AS (
    SELECT doc_id,
           round((len(lines) - len(list_distinct(lines))) * 1.0 / len(lines), 4)
               AS dup_line_frac,
           round(list_sum(list_transform(lines,
               l -> CASE WHEN len(list_filter(lines, x -> x = l)) >= 2
                    THEN len(l) ELSE 0 END))
               * 1.0 / greatest(len(text), 1), 4) AS dup_line_char_frac,
           {",".join(pieces)}
    FROM g
)
SELECT *, {" AND ".join(keeps)} AS keep FROM m
"""


def classifier_auc(scored: DataFrame, label_col: str = "is_curated",
                   score_col: str = "score") -> DataFrame:
    """Exact ROC AUC of a scored corpus via the Mann-Whitney U statistic
    over the 4-dp score grid — the model-evaluation metric for x119's
    classifier, computed scale-safely: scores are ALREADY rounded to a
    bounded grid (<= 10001 distinct values at 4 dp), so the per-score
    aggregate is a constant-size table at any corpus size and the one
    ordered window runs over |score grid| rows, never the corpus (the
    x68/x91 bounded-histogram posture). Ties are handled exactly
    (half-credit, the standard U-statistic correction): 2U = sum over
    score buckets of p_s * (2 * negatives_below + n_s) — EXACT integers
    until the single final division. Returns one row: n_pos, n_neg, auc
    (6 dp), gini."""
    by_s = scored.groupBy(score_col).agg(
        F.sum(F.col(label_col).cast("long")).alias("p"),
        F.sum((~F.col(label_col)).cast("long")).alias("n"),
    )
    w = (
        Window.orderBy(score_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    u2 = by_s.select(
        "p",
        "n",
        (
            F.col("p")
            * (2 * F.coalesce(F.sum("n").over(w), F.lit(0)) + F.col("n"))
        ).alias("u2"),
    )
    return u2.agg(
        F.sum("p").cast("long").alias("n_pos"),
        F.sum("n").cast("long").alias("n_neg"),
        F.round(
            F.sum("u2") / (2.0 * F.sum("p") * F.sum("n")), 6
        ).alias("auc"),
        F.round(
            F.sum("u2") / (F.sum("p") * F.sum("n")) - 1.0, 6
        ).alias("gini"),
    )


def classifier_auc_oracle_sql(scored_sql: str) -> str:
    """DuckDB replay of classifier_auc over any subquery producing
    (is_curated, score): same score-grid aggregate, same exact-integer
    2U accumulation, same final rounds."""
    return f"""
WITH scored AS (SELECT * FROM ({scored_sql})),
by_s AS (
    SELECT score,
           sum(CASE WHEN is_curated THEN 1 ELSE 0 END)::BIGINT p,
           sum(CASE WHEN is_curated THEN 0 ELSE 1 END)::BIGINT n
    FROM scored GROUP BY score
),
u AS (
    SELECT p, n,
           p * (2 * coalesce(sum(n) OVER (ORDER BY score
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                + n) AS u2
    FROM by_s
)
SELECT CAST(sum(p) AS BIGINT) AS n_pos, CAST(sum(n) AS BIGINT) AS n_neg,
       round(sum(u2) / (2.0 * sum(p) * sum(n)), 6) AS auc,
       round(sum(u2) * 1.0 / (sum(p) * sum(n)) - 1.0, 6) AS gini
FROM u
"""
