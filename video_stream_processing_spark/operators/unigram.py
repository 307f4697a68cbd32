"""Trained unigram-LM (SentencePiece-style) tokenizer — seed-substring
vocabulary, fixed-round hard-EM (Viterbi E-step), count-threshold
pruning, and Viterbi corpus tokenization, all as deterministic
replayable computation (Kudo 2018, "Subword Regularization"; the
unigram model behind SentencePiece/T5/Llama tokenizers. No vocabulary
files exist in this container, so the engine TRAINS its own vocab from
the corpus — the same posture as the BPE twin in operators/bpe.py).

Completes the tokenizer family next to BPE (x56/x57/x115): BPE is
bottom-up greedy merge learning; unigram is top-down — start from a
large seed vocabulary, fit piece probabilities with EM, prune, and
tokenize by maximum-likelihood segmentation (Viterbi).

Design for 100 TB (mirrors production SentencePiece training):

- **Train on a bounded deterministic sample** (doc_id modulus, the
  same sample as BPE training). Each EM iteration is a fixed-size
  distributed pass no matter the corpus size; only vocab-sized count
  tables (exact integers) ever reach the driver.
- **Hard-EM (Viterbi) instead of forward-backward.** The E-step
  assigns each word its single maximum-likelihood segmentation and
  counts pieces along it. This keeps every intermediate an exact
  integer count + a 6-dp-rounded log-prob (the x116/x119 rounding
  discipline), so the DuckDB oracle replays training decision-for-
  decision — fractional expected counts would diverge across engines.
- **Viterbi as a Catalyst expression fold, zero shuffle.** The DP over
  token positions is F.aggregate over sequence(1, n) with an
  array<struct(score, seg)> accumulator and a nested F.aggregate argmax
  over the last ``max_piece_len`` split points. Corpus tokenization is
  scan -> project with the trained vocab inlined as a literal map —
  the same no-exchange posture as BPE apply (bpe.py:195).
- **Determinism contract** (identical in both engines, making ORACLE
  hash parity possible): candidate split points are scanned left to
  right; a candidate replaces the incumbent iff (score >, or score ==
  and piece-path string <). Scores are sums of 6-dp-rounded log-probs
  accumulated in token order, so the doubles are bit-identical across
  engines; ties therefore resolve identically too (lexicographically
  smallest segmentation among ML ones).

Reference parity note: the reference engine (Flink Java video job,
S/VideoStreamProcessingJob.java) has no tokenizer at all — this module
is part of the LLM-training-data surface the build brief adds on top
of SURVEY.md §2 (§2.5's extension family, VERDICT r9/r10 task carry).
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from video_stream_processing_spark.operators.bpe import TOKEN_RE, _word_tokens
from video_stream_processing_spark.operators.text import _round6_away

# Training hyper-parameters — fixed so both engines replay the same run.
MAX_PIECE_LEN = 3  # seed substrings up to this length; DP window bound
SEED_MULTI = 40  # multi-char seed vocabulary size (top by count)
EM_ROUNDS = 2  # hard-EM iterations
FINAL_MULTI = 24  # multi-char pieces kept after the final prune
SAMPLE_MOD = 5  # deterministic doc_id % SAMPLE_MOD == SAMPLE_REM sample
SAMPLE_REM = 0
_SENTINEL = -1e18  # "unreachable" DP score (no real path sums below -1e17)


# --------------------------------------------------------------------------
# Viterbi segmentation as a Catalyst expression fold
# --------------------------------------------------------------------------


def viterbi_best(tok: Column, vm: Column, max_len: int = MAX_PIECE_LEN) -> Column:
    """struct(s: double, g: string): the maximum-likelihood segmentation
    of ``tok`` under the piece->logprob literal map ``vm``, with the
    module's determinism contract (left-to-right split scan, strict-
    improvement-or-lex-smaller replacement). ``g`` is the '|'-joined
    piece path; unreachable tokens (a char outside the vocab) return
    (s=-1e18, g=''), and so does the empty string (Spark's
    ``sequence(1, 0)`` DESCENDS, so without the n>=1 guard an empty
    token would fold a [1, 0] index walk into garbage — r11 ADVICE)."""
    n = F.length(tok)

    def best_at(acc: Column, i: Column) -> Column:
        def step(b: Column, j: Column) -> Column:
            piece = F.substr(tok, j + 1, i - j)
            lp = F.element_at(vm, piece)
            prev = F.element_at(acc, (j + 1).cast("int"))
            cand_s = prev["s"] + lp
            cand_g = F.when(prev["g"] == "", piece).otherwise(
                F.concat(prev["g"], F.lit("|"), piece)
            )
            cand = F.when(
                lp.isNotNull() & (prev["s"] > F.lit(_SENTINEL / 2)),
                F.struct(cand_s.alias("s"), cand_g.alias("g")),
            ).otherwise(
                F.struct(F.lit(_SENTINEL).alias("s"), F.lit("").alias("g"))
            )
            return F.when(
                (cand["s"] > b["s"]) | ((cand["s"] == b["s"]) & (cand["g"] < b["g"])),
                cand,
            ).otherwise(b)

        return F.aggregate(
            F.sequence(F.greatest(F.lit(0), i - max_len), i - 1),
            F.struct(F.lit(_SENTINEL).alias("s"), F.lit("").alias("g")),
            step,
        )

    dp = F.aggregate(
        F.sequence(F.lit(1), n),
        F.array(F.struct(F.lit(0.0).alias("s"), F.lit("").alias("g"))),
        lambda acc, i: F.concat(acc, F.array(best_at(acc, i))),
    )
    return F.when(
        n >= 1, F.element_at(dp, (n + 1).cast("int"))
    ).otherwise(F.struct(F.lit(_SENTINEL).alias("s"), F.lit("").alias("g")))


def _vocab_map(vocab: dict[str, float]) -> Column:
    """The trained vocab as a literal map — bounded driver-sized
    metadata inlined into the plan (the k-means-centroid posture), so
    lookup is a map probe inside codegen, never a join."""
    items: list[Column] = []
    for piece in sorted(vocab):
        items.append(F.lit(piece))
        items.append(F.lit(vocab[piece]))
    return F.create_map(*items)


# --------------------------------------------------------------------------
# Training — bounded-sample hard-EM; only vocab-sized exact-integer
# count tables cross to the driver.
# --------------------------------------------------------------------------


def _lp_table(counts: dict[str, int]) -> dict[str, float]:
    """6-dp-rounded log-probs from exact integer counts (the x119
    _round6_away discipline: round half away from zero, matching
    DuckDB's round())."""
    total = sum(counts.values())
    return {
        p: _round6_away(math.log(c / total)) for p, c in counts.items() if c > 0
    }


def _adjusted(counts: dict[str, int], chars: set[str]) -> dict[str, int]:
    """Post-E-step adjusted counts: single-char pieces get add-one (a
    char may receive zero Viterbi count yet must stay in the vocab so
    every string remains segmentable); multi-char pieces keep their raw
    count and are pruned when it reaches zero."""
    adj = {p: c for p, c in counts.items() if len(p) > 1 and c > 0}
    for ch in chars:
        adj[ch] = counts.get(ch, 0) + 1
    return adj


def _sample_tokc(
    docs: DataFrame, sample_mod: int, sample_rem: int, text_col: str
) -> DataFrame:
    """(tok, c): distinct sample words with occurrence counts — the
    bounded training input both trainers fold over (checkpointed: 3+
    passes read it)."""
    from video_stream_processing_spark.operators.parallelism import (
        ensure_parallelism,
    )

    # spread the one-split test scan before the explode+count (no-op at
    # real scale)
    sample = ensure_parallelism(
        docs.where(F.col("doc_id") % sample_mod == sample_rem), "doc_id"
    )
    return (
        sample.select(F.explode_outer(_word_tokens(text_col)).alias("tok"))
        .where(F.col("tok").isNotNull())  # dedup._minhash_wide explode note
        .groupBy("tok")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )


def _seed_counts(
    tokc: DataFrame, max_piece_len: int, seed_multi: int
) -> tuple[dict[str, int], list[tuple[str, int]]]:
    """Seed vocabulary counts: every char occurrence plus every
    substring of length 2..max_piece_len, weighted by token occurrence
    count; multi-char candidates capped to the top ``seed_multi`` by
    (count DESC, piece ASC). Exact integers — both the hard-EM (x128)
    and soft-EM (x131) trainers start here."""
    tok, c = F.col("tok"), F.col("c")
    char_rows = (
        tokc.select(
            F.explode(
                F.transform(
                    F.sequence(F.lit(1), F.length(tok)),
                    lambda i: F.substr(tok, i, F.lit(1)),
                )
            ).alias("piece"),
            c,
        )
        .groupBy("piece")
        .agg(F.sum(c).alias("cnt"))
        .collect()
    )
    char_counts = {r["piece"]: int(r["cnt"]) for r in char_rows}

    sub_rows = (
        tokc.select(
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(F.lit(2), F.lit(max_piece_len)),
                        # guard: Spark's sequence(1, n) DESCENDS when n < 1
                        # (unlike DuckDB's empty range), which would emit
                        # truncated duplicate substrings for short tokens
                        lambda w: F.when(
                            F.length(tok) - w + 1 >= 1,
                            F.transform(
                                F.sequence(F.lit(1), F.length(tok) - w + 1),
                                lambda i: F.substr(tok, i, w),
                            ),
                        ).otherwise(F.array().cast("array<string>")),
                    )
                )
            ).alias("piece"),
            c,
        )
        .where(F.length("piece") >= 2)
        .groupBy("piece")
        .agg(F.sum(c).alias("cnt"))
        .collect()
    )
    sub_counts = {r["piece"]: int(r["cnt"]) for r in sub_rows}
    top_subs = sorted(sub_counts.items(), key=lambda kv: (-kv[1], kv[0]))[:seed_multi]
    return char_counts, top_subs


def train_unigram(
    docs: DataFrame,
    max_piece_len: int = MAX_PIECE_LEN,
    seed_multi: int = SEED_MULTI,
    em_rounds: int = EM_ROUNDS,
    final_multi: int = FINAL_MULTI,
    sample_mod: int = SAMPLE_MOD,
    sample_rem: int = SAMPLE_REM,
    text_col: str = "text",
) -> list[tuple[str, int, float]]:
    """Train the unigram vocab on the deterministic sample; returns
    [(piece, last_em_count, final_logprob)] ordered by
    (count DESC, piece ASC) — the tokenizer artifact.

    Each stage is one distributed pass over the bounded sample:
    seed-substring counting, then ``em_rounds`` Viterbi-count passes
    (the segmentation fold runs JVM-side over DISTINCT sample tokens —
    corpus word frequency is captured by weighting with each token's
    occurrence count, so the expensive fold runs once per unique word)."""
    tokc = _sample_tokc(docs, sample_mod, sample_rem, text_col)
    char_counts, top_subs = _seed_counts(tokc, max_piece_len, seed_multi)
    chars = set(char_counts)
    counts: dict[str, int] = dict(char_counts)
    counts.update(dict(top_subs))
    lp = _lp_table(counts)
    tok, c = F.col("tok"), F.col("c")

    # Hard-EM rounds: Viterbi-segment the distinct sample tokens under
    # the current vocab, count pieces weighted by occurrence count.
    em_counts: dict[str, int] = {}
    for _ in range(em_rounds):
        vm = _vocab_map(lp)
        seg = tokc.select(
            c, F.split(viterbi_best(tok, vm, max_piece_len)["g"], r"\|").alias("ps")
        )
        rows = (
            seg.select(F.explode("ps").alias("piece"), c)
            .groupBy("piece")
            .agg(F.sum(c).alias("cnt"))
            .collect()
        )
        em_counts = {r["piece"]: int(r["cnt"]) for r in rows}
        lp = _lp_table(_adjusted(em_counts, chars))

    # Final prune: all chars + top final_multi multi-char by last-round
    # count; renormalize once more over the kept set.
    kept_multi = sorted(
        ((p, n) for p, n in em_counts.items() if len(p) > 1 and n > 0),
        key=lambda kv: (-kv[1], kv[0]),
    )[:final_multi]
    kept = {p for p, _ in kept_multi} | chars
    final_counts = {p: em_counts.get(p, 0) for p in kept}
    final_lp = _lp_table(_adjusted(final_counts, chars))
    out = [(p, final_counts[p], final_lp[p]) for p in final_lp]
    out.sort(key=lambda t: (-t[1], t[0]))
    return out


def unigram_vocab_table(spark: SparkSession, docs: DataFrame, **kw) -> DataFrame:
    """The trained vocab: (rank, piece, cnt, lp) — rank by
    (last-EM-count DESC, piece ASC), the artifact a tokenizer consumer
    ships (SentencePiece's .vocab file analog)."""
    vocab = train_unigram(docs, **kw)
    rows = [(k + 1, p, int(n), float(lp)) for k, (p, n, lp) in enumerate(vocab)]
    return spark.createDataFrame(
        rows, "rank int, piece string, cnt long, lp double"
    )


def unigram_tokenize(
    docs: DataFrame,
    vocab: dict[str, float],
    max_piece_len: int = MAX_PIECE_LEN,
    text_col: str = "text",
) -> DataFrame:
    """Tokenize the FULL corpus with the trained vocab: per doc, word
    count, total Viterbi piece count, unsegmentable-word count (a char
    outside the vocab -> char-fallback length, counted as unk), and the
    encode∘decode mismatch count (must be 0; recomputed independently
    by the oracle rather than asserted).

    Scale shape (the unigram_logprob_scores posture, r11 rewrite): the
    DP fold runs once per DISTINCT word — Heaps-law bounded, ~millions
    at 100 TB — never once per corpus token; per-token results rejoin
    the exploded corpus via a BROADCAST hash join and re-aggregate per
    doc (two keyed exchanges over fixed-width rows). The first cut ran
    the O(n·max_len) struct fold inline per token occurrence per output
    column: 44 s warm at sf0.1 vs ~1 s for this form, and the gap GROWS
    with corpus size since token occurrences outpace vocabulary. The
    Viterbi function is deterministic per token, so per-distinct
    precompute is value-identical to the oracle's per-occurrence
    replay."""
    vm = _vocab_map(vocab)
    tl = _word_tokens(text_col)
    base = docs.select("doc_id", F.size(tl).alias("n_tokens"), tl.alias("__tl"))
    toks = base.select("doc_id", F.explode_outer("__tl").alias("tok")).where(
        F.col("tok").isNotNull()
    )  # dedup._minhash_wide explode note
    b = viterbi_best(F.col("tok"), vm, max_piece_len)
    reachable = F.col("__b")["s"] > F.lit(_SENTINEL / 2)
    scored = (
        toks.select("tok")
        .distinct()
        .select("tok", b.alias("__b"))
        .select(
            "tok",
            F.when(reachable, F.size(F.split(F.col("__b")["g"], r"\|")))
            .otherwise(F.length("tok"))
            .cast("long")
            .alias("__np"),
            (~reachable).cast("long").alias("__unk"),
            (
                reachable
                & (
                    F.replace(F.col("__b")["g"], F.lit("|"), F.lit(""))
                    != F.col("tok")
                )
            ).cast("long").alias("__mism"),
        )
    )
    agg = (
        toks.join(F.broadcast(scored), "tok")
        .groupBy("doc_id")
        .agg(
            F.sum("__np").alias("__pieces"),
            F.sum("__unk").alias("__unks"),
            F.sum("__mism").alias("__misms"),
        )
    )
    return base.select("doc_id", "n_tokens").join(agg, "doc_id", "left").select(
        "doc_id",
        "n_tokens",
        F.coalesce("__pieces", F.lit(0)).cast("long").alias("n_pieces"),
        F.coalesce("__unks", F.lit(0)).cast("long").alias("n_unk"),
        F.coalesce("__misms", F.lit(0)).cast("long").alias("n_mismatch"),
    )


# --------------------------------------------------------------------------
# DuckDB oracle builders — replay seed counting, both EM rounds, the
# prune, and tokenization in ONE statement. The Viterbi DP is a
# list_reduce whose accumulator is a bare LIST of (s, g, i) structs
# (DuckDB 1.0 threads list accumulators but silently drops lists nested
# inside struct accumulators); the init row is prepended as the first
# element since 1.0 has no 3-arg reduce.
# --------------------------------------------------------------------------


def _viterbi_sql(tok: str, vm: str, max_len: int = MAX_PIECE_LEN) -> str:
    """SQL expr: struct(s, g, i) — the best segmentation of ``tok``
    under map expr ``vm``; same DP, same candidate order, same
    tie-break as viterbi_best."""
    piece = f"substr({tok}, CAST(j + 1 AS INT), CAST(x[1].i - j AS INT))"
    return f"""list_reduce(
  list_prepend(
    [{{'s': CAST(0.0 AS DOUBLE), 'g': '', 'i': 0}}],
    list_transform(range(1, length({tok}) + 1),
                   k -> [{{'s': CAST(0.0 AS DOUBLE), 'g': '', 'i': CAST(k AS INT)}}])),
  (acc, x) -> list_append(acc,
    list_reduce(
      list_prepend(
        {{'s': CAST({_SENTINEL!r} AS DOUBLE), 'g': '', 'i': x[1].i}},
        list_transform(range(greatest(0, x[1].i - {max_len}), x[1].i),
          j -> CASE WHEN {vm}[{piece}][1] IS NOT NULL
                     AND acc[CAST(j + 1 AS INT)].s > {_SENTINEL / 2!r}
               THEN {{'s': acc[CAST(j + 1 AS INT)].s + {vm}[{piece}][1],
                     'g': CASE WHEN acc[CAST(j + 1 AS INT)].g = '' THEN {piece}
                               ELSE acc[CAST(j + 1 AS INT)].g || '|' || {piece} END,
                     'i': x[1].i}}
               ELSE {{'s': CAST({_SENTINEL!r} AS DOUBLE), 'g': '', 'i': x[1].i}} END)),
      (vb, vc) -> CASE WHEN vc.s > vb.s OR (vc.s = vb.s AND vc.g < vb.g) THEN vc ELSE vb END)))
  [length({tok}) + 1]"""


def _training_ctes(
    max_piece_len: int = MAX_PIECE_LEN,
    seed_multi: int = SEED_MULTI,
    em_rounds: int = EM_ROUNDS,
    final_multi: int = FINAL_MULTI,
    sample_mod: int = SAMPLE_MOD,
    sample_rem: int = SAMPLE_REM,
) -> str:
    """CTE chain ending in vocab_f(piece, cnt, lp) + vm_f (the final
    piece->lp map)."""
    parts = [
        f"""tokc AS (
    SELECT tok, count(*) AS c FROM (
        SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS tok
        FROM documents WHERE doc_id % {sample_mod} = {sample_rem}
    ) GROUP BY tok
),
chars AS (
    SELECT substr(tok, CAST(i + 1 AS INT), 1) AS piece, CAST(sum(c) AS BIGINT) AS cnt
    FROM tokc, unnest(range(length(tok))) AS t(i)
    GROUP BY 1
),
subs AS (
    SELECT piece, CAST(sum(c) AS BIGINT) AS cnt FROM (
        SELECT substr(tok, CAST(i + 1 AS INT), CAST(w AS INT)) AS piece, c
        FROM tokc,
             unnest(range(2, {max_piece_len} + 1)) AS ww(w),
             unnest(range(length(tok) - w + 1)) AS pp(i)
    ) WHERE length(piece) >= 2
    GROUP BY piece
),
seed AS (
    SELECT piece, cnt FROM chars
    UNION ALL
    SELECT piece, cnt FROM (
        SELECT piece, cnt FROM subs ORDER BY cnt DESC, piece LIMIT {seed_multi}
    )
),
vocab0 AS (
    SELECT piece, round(ln(cnt::DOUBLE / (SELECT sum(cnt) FROM seed)), 6) AS lp
    FROM seed WHERE cnt > 0
),
vm0 AS (
    SELECT map(list(piece ORDER BY piece), list(lp ORDER BY piece)) AS vm FROM vocab0
)"""
    ]
    prev = "vm0"
    last_cnt = "cnt0"
    for r in range(1, em_rounds + 1):
        parts.append(
            f"""seg{r} AS (
    SELECT tok, c, ({_viterbi_sql("tok", "vm", max_piece_len)}).g AS g
    FROM tokc CROSS JOIN {prev}
),
cnt{r} AS (
    SELECT piece, CAST(sum(c) AS BIGINT) AS cnt
    FROM seg{r}, unnest(string_split(g, '|')) AS s(piece)
    GROUP BY piece
),
adj{r} AS (
    SELECT ch.piece, coalesce(k.cnt, 0) + 1 AS adj
    FROM chars ch LEFT JOIN cnt{r} k ON ch.piece = k.piece
    UNION ALL
    SELECT piece, cnt AS adj FROM cnt{r} WHERE length(piece) > 1 AND cnt > 0
),
vocab{r} AS (
    SELECT piece, round(ln(adj::DOUBLE / (SELECT sum(adj) FROM adj{r})), 6) AS lp
    FROM adj{r}
),
vm{r} AS (
    SELECT map(list(piece ORDER BY piece), list(lp ORDER BY piece)) AS vm FROM vocab{r}
)"""
        )
        prev = f"vm{r}"
        last_cnt = f"cnt{r}"
    parts.append(
        f"""kept AS (
    SELECT ch.piece, coalesce(k.cnt, 0) AS cnt
    FROM chars ch LEFT JOIN {last_cnt} k ON ch.piece = k.piece
    UNION ALL
    SELECT piece, cnt FROM (
        SELECT piece, cnt FROM {last_cnt} WHERE length(piece) > 1 AND cnt > 0
        ORDER BY cnt DESC, piece LIMIT {final_multi}
    )
),
adj_f AS (
    SELECT piece, cnt, cnt + CASE WHEN length(piece) = 1 THEN 1 ELSE 0 END AS adj
    FROM kept
),
vocab_f AS (
    SELECT piece, cnt,
           round(ln(adj::DOUBLE / (SELECT sum(adj) FROM adj_f)), 6) AS lp
    FROM adj_f WHERE adj > 0
),
vm_f AS (
    SELECT map(list(piece ORDER BY piece), list(lp ORDER BY piece)) AS vm FROM vocab_f
)"""
    )
    return "WITH " + ",\n".join(parts)


def unigram_vocab_oracle_sql(**kw) -> str:
    return (
        _training_ctes(**kw)
        + """
SELECT CAST(row_number() OVER (ORDER BY cnt DESC, piece) AS INT) AS rank,
       piece, CAST(cnt AS BIGINT) AS cnt, lp
FROM vocab_f
"""
    )


def _tokenize_tail_sql(vm_cte: str, max_piece_len: int = MAX_PIECE_LEN) -> str:
    """The corpus-tokenize SELECT tail over a (vm) map CTE — shared by
    the hard-vocab (x129) and soft-vocab (x132) tokenize oracles."""
    vit = _viterbi_sql("t", "vm", max_piece_len)
    return f""",
docs_t AS (
    SELECT doc_id, regexp_extract_all(lower(text), '{TOKEN_RE}') AS tl FROM documents
),
scored AS (
    SELECT doc_id, list_transform(tl, t -> {vit}) AS bs, tl
    FROM docs_t CROSS JOIN {vm_cte}
)
SELECT doc_id,
       CAST(len(tl) AS INT) AS n_tokens,
       CAST(coalesce(list_sum(list_transform(range(len(tl)), q ->
           CASE WHEN bs[CAST(q + 1 AS INT)].s > {_SENTINEL / 2!r}
                THEN len(string_split(bs[CAST(q + 1 AS INT)].g, '|'))
                ELSE length(tl[CAST(q + 1 AS INT)]) END)), 0) AS BIGINT) AS n_pieces,
       CAST(coalesce(len(list_filter(bs, b -> b.s <= {_SENTINEL / 2!r})), 0) AS BIGINT)
           AS n_unk,
       CAST(coalesce(len(list_filter(range(len(tl)), q ->
           bs[CAST(q + 1 AS INT)].s > {_SENTINEL / 2!r}
           AND replace(bs[CAST(q + 1 AS INT)].g, '|', '') <> tl[CAST(q + 1 AS INT)])), 0)
           AS BIGINT) AS n_mismatch
FROM scored
"""


def unigram_tokenize_oracle_sql(max_piece_len: int = MAX_PIECE_LEN, **kw) -> str:
    return (
        _training_ctes(max_piece_len=max_piece_len, **kw)
        + _tokenize_tail_sql("vm_f", max_piece_len)
    )


# --------------------------------------------------------------------------
# Soft EM (full forward-backward) — the TRUE SentencePiece E-step.
# Expected piece counts are fractional, which would normally make the
# M-step unreplayable across engines (float summation order over the
# corpus). The replay trick: per (token, piece) expectations are
# computed in a FIXED span order inside one row, scaled to integer
# micro-counts (round(e * 1e6), half-away in both engines), and only
# INTEGERS are aggregated across the corpus — exact, order-free. The
# next round's probabilities are exact integer ratios in double, so
# the whole EM trajectory is bit-replayable in DuckDB (x131).
# --------------------------------------------------------------------------

MAX_SOFT_TOKEN_LEN = 24  # probability-space F/B: (e^-12)^24 ~ e^-288, no
# double underflow; longer words are vanishingly rare and remain covered
# by the Viterbi/hard-EM path (x128/x129)
MICRO = 1_000_000  # expected-count scaling: 1 count == 1e6 micro-units


def _prob_map(p: dict[str, float]) -> Column:
    items: list[Column] = []
    for piece in sorted(p):
        items.append(F.lit(piece))
        items.append(F.lit(p[piece]))
    return F.create_map(*items)


def fb_expected_scaled(
    tok: Column, pm: Column, max_len: int = MAX_PIECE_LEN
) -> Column:
    """array<struct(pc: string, sc: long)>: per-piece expected counts of
    ``tok`` under the piece->probability literal map ``pm``, forward-
    backward exact posterior, scaled to integer micro-counts.

    Determinism contract (mirrored verbatim by the oracle): spans
    enumerate i ascending then j ascending; alpha sums j ascending;
    beta sums k ascending; contribution = alpha[j] * p * beta[i] / Z
    in that association order; per-piece sums run in span order over
    the lex-sorted distinct piece list; micro-scaling rounds half-away.
    Every char must be in ``pm`` (Z > 0 guaranteed)."""
    n = F.length(tok)

    def p_of(piece: Column) -> Column:
        return F.coalesce(F.element_at(pm, piece), F.lit(0.0))

    spans = F.flatten(
        F.transform(
            F.sequence(F.lit(1), n),
            lambda i: F.filter(
                F.transform(
                    F.sequence(F.greatest(F.lit(0), i - max_len), i - 1),
                    lambda j: F.struct(
                        j.cast("int").alias("j"),
                        i.cast("int").alias("i"),
                        F.substr(tok, j + 1, i - j).alias("pc"),
                    ),
                ),
                lambda s: F.element_at(pm, s["pc"]).isNotNull(),
            ),
        )
    )
    alpha = F.aggregate(
        F.sequence(F.lit(1), n),
        F.array(F.lit(1.0)),
        lambda acc, i: F.concat(
            acc,
            F.array(
                F.aggregate(
                    F.sequence(F.greatest(F.lit(0), i - max_len), i - 1),
                    F.lit(0.0),
                    lambda s_, j: s_
                    + p_of(F.substr(tok, j + 1, i - j))
                    * F.element_at(acc, (j + 1).cast("int")),
                )
            ),
        ),
    )
    # beta stored REVERSED: beta_rev[m] = beta[n - m + 1]; beta[k] is at
    # index n - k + 1. The fold walks i = n-1 .. 0; inside it, beta[k]
    # for k in i+1..min(n, i+L) is already present in acc.
    beta_rev = F.aggregate(
        F.sequence(n - 1, F.lit(0), F.lit(-1)),
        F.array(F.lit(1.0)),
        lambda acc, i: F.concat(
            acc,
            F.array(
                F.aggregate(
                    F.sequence(i + 1, F.least(n, i + max_len)),
                    F.lit(0.0),
                    lambda s_, k: s_
                    + p_of(F.substr(tok, i + 1, k - i))
                    * F.element_at(acc, (n - k + 1).cast("int")),
                )
            ),
        ),
    )
    z = F.element_at(alpha, (n + 1).cast("int"))
    contribs = F.transform(
        spans,
        lambda s: F.struct(
            s["pc"].alias("pc"),
            (
                F.element_at(alpha, s["j"] + 1)
                * p_of(s["pc"])
                * F.element_at(beta_rev, (n - s["i"] + 1).cast("int"))
                / z
            ).alias("v"),
        ),
    )
    pieces = F.array_sort(F.array_distinct(F.transform(spans, lambda s: s["pc"])))
    return F.transform(
        pieces,
        lambda pc: F.struct(
            pc.alias("pc"),
            F.round(
                F.aggregate(
                    F.filter(contribs, lambda cb: cb["pc"] == pc),
                    F.lit(0.0),
                    lambda s_, cb: s_ + cb["v"],
                )
                * MICRO,
                0,
            ).cast("long").alias("sc"),
        ),
    )


def train_unigram_soft(
    docs: DataFrame,
    max_piece_len: int = MAX_PIECE_LEN,
    seed_multi: int = SEED_MULTI,
    em_rounds: int = EM_ROUNDS,
    final_multi: int = FINAL_MULTI,
    sample_mod: int = SAMPLE_MOD,
    sample_rem: int = SAMPLE_REM,
    text_col: str = "text",
    max_token_len: int = MAX_SOFT_TOKEN_LEN,
) -> list[tuple[str, int, float]]:
    """Soft-EM unigram training (Kudo 2018's actual E-step): returns
    [(piece, last_round_micro_count, probability)] by
    (micro-count DESC, piece ASC). Same bounded sample and seed as the
    hard-EM trainer; each round folds forward-backward once per
    DISTINCT sample word and aggregates only integer micro-counts."""
    tokc = _sample_tokc(docs, sample_mod, sample_rem, text_col).where(
        F.length("tok") <= max_token_len
    ).localCheckpoint(eager=True)
    char_counts, top_subs = _seed_counts(tokc, max_piece_len, seed_multi)
    chars = set(char_counts)
    counts: dict[str, int] = dict(char_counts)
    counts.update(dict(top_subs))
    total0 = sum(counts.values())
    p = {pc: cnt / total0 for pc, cnt in counts.items() if cnt > 0}

    em_micro: dict[str, int] = {}
    for _ in range(em_rounds):
        pm = _prob_map(p)
        rows = (
            tokc.select(
                F.col("c"),
                F.explode(
                    fb_expected_scaled(F.col("tok"), pm, max_piece_len)
                ).alias("e"),
            )
            .select(F.col("e.pc").alias("piece"), (F.col("e.sc") * F.col("c")).alias("m"))
            .groupBy("piece")
            .agg(F.sum("m").alias("micro"))
            .collect()
        )
        em_micro = {r["piece"]: int(r["micro"]) for r in rows}
        adj = {pc: m for pc, m in em_micro.items() if len(pc) > 1 and m > 0}
        for ch in chars:
            adj[ch] = em_micro.get(ch, 0) + MICRO
        total = sum(adj.values())
        p = {pc: m / total for pc, m in adj.items()}

    kept_multi = sorted(
        ((pc, m) for pc, m in em_micro.items() if len(pc) > 1 and m > 0),
        key=lambda kv: (-kv[1], kv[0]),
    )[:final_multi]
    kept = {pc for pc, _ in kept_multi} | chars
    final_micro = {pc: em_micro.get(pc, 0) for pc in kept}
    adj = {
        pc: m + (MICRO if len(pc) == 1 else 0)
        for pc, m in final_micro.items()
        if m + (MICRO if len(pc) == 1 else 0) > 0
    }
    total = sum(adj.values())
    out = [(pc, final_micro[pc], adj[pc] / total) for pc in adj]
    out.sort(key=lambda t: (-t[1], t[0]))
    return out


def unigram_soft_vocab_table(spark: SparkSession, docs: DataFrame, **kw) -> DataFrame:
    """The soft-EM vocab artifact: (rank, piece, exp_cnt_micro, p) —
    expected counts in exact integer micro-units, probabilities as
    exact integer-ratio doubles."""
    vocab = train_unigram_soft(docs, **kw)
    rows = [(k + 1, pc, int(m), float(pv)) for k, (pc, m, pv) in enumerate(vocab)]
    return spark.createDataFrame(
        rows, "rank int, piece string, exp_cnt_micro long, p double"
    )


# --------------------------------------------------------------------------
# Soft-EM DuckDB oracle — replays seed, both F/B rounds, and the prune
# in ONE statement. Same list-accumulator list_reduce pattern as the
# Viterbi oracle; the fold position i is recovered as len(acc) (alpha)
# / n - len(acc) (beta), since DuckDB 1.0's 2-arg reduce carries no
# index.
# --------------------------------------------------------------------------


def _fb_span_sql(tok: str, pm: str, max_len: int = MAX_PIECE_LEN) -> str:
    """SQL expr: the vocab-compatible span list of ``tok``."""
    return f"""list_filter(
      flatten(list_transform(range(1, length({tok}) + 1),
        i -> list_transform(range(greatest(0, i - {max_len}), i),
          j -> {{'j': CAST(j AS INT), 'i': CAST(i AS INT),
                'pc': substr({tok}, CAST(j + 1 AS INT), CAST(i - j AS INT))}}))),
      s -> {pm}[s.pc][1] IS NOT NULL)"""


def _fb_alpha_sql(tok: str, pm: str, max_len: int = MAX_PIECE_LEN) -> str:
    """SQL expr: forward probabilities alpha[0..n] (alpha[0] = 1)."""
    return f"""list_reduce(
      list_prepend([CAST(1.0 AS DOUBLE)],
                   list_transform(range(1, length({tok}) + 1), k -> [CAST(0.0 AS DOUBLE)])),
      (acc, x) -> list_append(acc,
        list_reduce(
          list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(range(greatest(0, len(acc) - {max_len}), len(acc)),
              j -> coalesce({pm}[substr({tok}, CAST(j + 1 AS INT), CAST(len(acc) - j AS INT))][1],
                            0.0) * acc[CAST(j + 1 AS INT)])),
          (sa, sb) -> sa + sb)))"""


def _fb_beta_rev_sql(tok: str, pm: str, max_len: int = MAX_PIECE_LEN) -> str:
    """SQL expr: backward probabilities stored reversed —
    beta_rev[m] = beta[n - m + 1]; the fold position is i = n - len(acc)."""
    return f"""list_reduce(
      list_prepend([CAST(1.0 AS DOUBLE)],
                   list_transform(range(length({tok})), k -> [CAST(0.0 AS DOUBLE)])),
      (acc, x) -> list_append(acc,
        list_reduce(
          list_prepend(CAST(0.0 AS DOUBLE),
            list_transform(range(length({tok}) - len(acc) + 1,
                                 least(length({tok}), length({tok}) - len(acc) + {max_len}) + 1),
              kk -> coalesce({pm}[substr({tok}, CAST(length({tok}) - len(acc) + 1 AS INT),
                                         CAST(kk - (length({tok}) - len(acc)) AS INT))][1],
                             0.0) * acc[CAST(length({tok}) - kk + 1 AS INT)])),
          (sa, sb) -> sa + sb)))"""


def _fb_contribs_sql(tok: str, pm: str) -> str:
    """SQL expr over columns sp/al/br: span posteriors
    alpha[j] * p * beta[i] / Z in fb_expected_scaled's association
    order."""
    return f"""list_transform(sp, s ->
        {{'pc': s.pc,
          'v': al[s.j + 1] * {pm}[s.pc][1] * br[length({tok}) - s.i + 1]
               / al[length({tok}) + 1]}})"""


_FB_EC_SQL = f"""list_transform(
        list_sort(list_distinct(list_transform(sp, s -> s.pc))),
        pcx -> {{'pc': pcx,
                'sc': CAST(round(list_reduce(
                          list_prepend(CAST(0.0 AS DOUBLE),
                            list_transform(list_filter(cbs, cb -> cb.pc = pcx),
                                           cb -> cb.v)),
                          (sa, sb) -> sa + sb) * {MICRO}) AS BIGINT)}})"""


def _soft_training_ctes(
    max_piece_len: int = MAX_PIECE_LEN,
    seed_multi: int = SEED_MULTI,
    em_rounds: int = EM_ROUNDS,
    final_multi: int = FINAL_MULTI,
    sample_mod: int = SAMPLE_MOD,
    sample_rem: int = SAMPLE_REM,
    max_token_len: int = MAX_SOFT_TOKEN_LEN,
) -> str:
    parts = [
        f"""stokc AS (
    SELECT tok, c FROM (
        SELECT tok, count(*) AS c FROM (
            SELECT unnest(regexp_extract_all(lower(text), '{TOKEN_RE}')) AS tok
            FROM documents WHERE doc_id % {sample_mod} = {sample_rem}
        ) GROUP BY tok
    ) WHERE length(tok) <= {max_token_len}
),
schars AS (
    SELECT substr(tok, CAST(i + 1 AS INT), 1) AS piece, CAST(sum(c) AS BIGINT) AS cnt
    FROM stokc, unnest(range(length(tok))) AS t(i)
    GROUP BY 1
),
ssubs AS (
    SELECT piece, CAST(sum(c) AS BIGINT) AS cnt FROM (
        SELECT substr(tok, CAST(i + 1 AS INT), CAST(w AS INT)) AS piece, c
        FROM stokc,
             unnest(range(2, {max_piece_len} + 1)) AS ww(w),
             unnest(range(length(tok) - w + 1)) AS pp(i)
    ) WHERE length(piece) >= 2
    GROUP BY piece
),
sseed AS (
    SELECT piece, cnt FROM schars
    UNION ALL
    SELECT piece, cnt FROM (
        SELECT piece, cnt FROM ssubs ORDER BY cnt DESC, piece LIMIT {seed_multi}
    )
),
spv0 AS (
    SELECT piece, cnt::DOUBLE / (SELECT sum(cnt) FROM sseed)::DOUBLE AS p
    FROM sseed WHERE cnt > 0
),
spm0 AS (
    SELECT map(list(piece ORDER BY piece), list(p ORDER BY piece)) AS pm FROM spv0
)"""
    ]
    prev = "spm0"
    last = "scnt0"
    for r in range(1, em_rounds + 1):
        parts.append(
            f"""sfb{r} AS (
    SELECT c, tok, pm,
           {_fb_span_sql("tok", "pm", max_piece_len)} AS sp,
           {_fb_alpha_sql("tok", "pm", max_piece_len)} AS al,
           {_fb_beta_rev_sql("tok", "pm", max_piece_len)} AS br
    FROM stokc CROSS JOIN {prev}
),
scb{r} AS (
    SELECT c, sp, {_fb_contribs_sql("tok", "pm")} AS cbs FROM sfb{r}
),
sec{r} AS (
    SELECT c, unnest({_FB_EC_SQL}) AS e FROM scb{r}
),
scnt{r} AS (
    SELECT e.pc AS piece, CAST(sum(e.sc * c) AS BIGINT) AS micro
    FROM sec{r} GROUP BY 1
),
sadj{r} AS (
    SELECT ch.piece, coalesce(k.micro, 0) + {MICRO} AS adj
    FROM schars ch LEFT JOIN scnt{r} k ON ch.piece = k.piece
    UNION ALL
    SELECT piece, micro AS adj FROM scnt{r} WHERE length(piece) > 1 AND micro > 0
),
spv{r} AS (
    SELECT piece, adj::DOUBLE / (SELECT sum(adj) FROM sadj{r})::DOUBLE AS p
    FROM sadj{r}
),
spm{r} AS (
    SELECT map(list(piece ORDER BY piece), list(p ORDER BY piece)) AS pm FROM spv{r}
)"""
        )
        prev = f"spm{r}"
        last = f"scnt{r}"
    parts.append(
        f"""skept AS (
    SELECT ch.piece, coalesce(k.micro, 0) AS micro
    FROM schars ch LEFT JOIN {last} k ON ch.piece = k.piece
    UNION ALL
    SELECT piece, micro FROM (
        SELECT piece, micro FROM {last} WHERE length(piece) > 1 AND micro > 0
        ORDER BY micro DESC, piece LIMIT {final_multi}
    )
),
sadj_f AS (
    SELECT piece, micro,
           micro + CASE WHEN length(piece) = 1 THEN {MICRO} ELSE 0 END AS adj
    FROM skept
),
svocab_f AS (
    SELECT piece, micro,
           adj::DOUBLE / (SELECT sum(adj) FROM sadj_f)::DOUBLE AS p
    FROM sadj_f WHERE adj > 0
)"""
    )
    return "WITH " + ",\n".join(parts)


def unigram_soft_vocab_oracle_sql(**kw) -> str:
    return (
        _soft_training_ctes(**kw)
        + """
SELECT CAST(row_number() OVER (ORDER BY micro DESC, piece) AS INT) AS rank,
       piece, CAST(micro AS BIGINT) AS exp_cnt_micro, p
FROM svocab_f
"""
    )


def unigram_soft_tokenize_oracle_sql(
    max_piece_len: int = MAX_PIECE_LEN, **kw
) -> str:
    """x132 oracle: soft-EM training replay, then the shared Viterbi
    corpus-tokenize tail under log-probs round(ln(p), 6) of the soft
    vocab (identical doubles in → identical ln/round out)."""
    return (
        _soft_training_ctes(max_piece_len=max_piece_len, **kw)
        + """,
svm_lp AS (
    SELECT map(list(piece ORDER BY piece),
               list(round(ln(p), 6) ORDER BY piece)) AS vm
    FROM svocab_f
)"""
        + _tokenize_tail_sql("svm_lp", max_piece_len)
    )
