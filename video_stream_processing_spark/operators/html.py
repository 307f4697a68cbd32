"""HTML / boilerplate main-text extraction — the curation stage that
PRECEDES every trained filter in the public pipelines: CCNet, C4,
RefinedWeb and Gopher all begin from extracted main text, not raw
markup (jusText, Pomikalek 2011, and trafilatura are the named public
extractors this follows). The reference engine itself has no text
surface (it is a video job — see SURVEY.md §2.5 for why the relational
and curation layers exist); this module is north-star LLM-pipeline
surface mandated by the driver.

Semantics (a deterministic, oracle-replayable simplification of
jusText's block classifier):

1. strip ``<script>``/``<style>`` elements wholesale (their text is
   code, never content — and a script body may contain literal markup
   like ``<p>`` that must not leak into segmentation);
2. segment on CLOSING block-level tags (``</p> </div> </h1..6> </li>
   </ul> </ol> </nav> </header> </footer> </td> </tr> </table>
   </blockquote> </title>`` and ``<br>``) — the jusText block notion;
3. per block: strip remaining tags, collapse whitespace, measure
   text length, word count, and LINK text length (characters inside
   ``<a>`` anchors — jusText's link-density signal);
4. a block is CONTENT iff it has >= ``min_words`` words AND its link
   density (link chars / text chars) is <= ``max_link_density`` —
   short blocks and link-dense blocks (navs, footers, ad units) are
   boilerplate;
5. emit per doc: ``main_text`` (kept blocks joined by newline) plus
   the audit columns the curation report needs — ``tag_fraction``
   (markup chars / raw length), ``link_density`` (doc-level link
   chars / text chars over ALL blocks), ``kept_share`` (kept /
   non-empty blocks), ``n_blocks``, ``n_kept``.

Float parity: every ratio is a ratio of integer character/block counts
rounded to 4 dp; positive values round identically under Spark's
HALF_UP and DuckDB's half-away-from-zero. Regexes are the common
Java-regex/RE2 subset: character classes, alternation, lazy ``.*?``,
inline ``(?is)`` flags — no lookarounds, no backrefs. (One documented
divergence: Java's ``\\s`` includes vertical tab, RE2's does not —
irrelevant for HTML, which treats VT as an ordinary character.)

Scale: ONE corpus scan, zero exchanges — the whole extractor is
per-row Catalyst string/array expressions (regexp_replace, split,
transform/filter/aggregate), fully codegen'd, no Python. At 100 TB
this runs at parquet-scan speed and the audit columns come for free.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = [
    "html_extract",
    "synth_markup_col",
    "synth_markup_sql",
    "html_extract_oracle_sql",
    "extract_sql",
]

# Shared regex texts (Java-regex/RE2 common subset — see module doc).
_RE_SCRIPT = r"(?is)<script[^>]*>.*?</script>"
_RE_STYLE = r"(?is)<style[^>]*>.*?</style>"
_RE_BLOCK_SEP = (
    r"(?i)(</(p|div|h[1-6]|li|ul|ol|nav|header|footer|td|tr|table"
    r"|blockquote|title)>|<br[^>]*>)"
)
_RE_TAG = r"<[^>]*>"
_RE_WS = r"\s+"
_RE_ANCHOR = r"(?is)<a[^>]*>(.*?)</a>"

DEFAULT_MAX_LINK_DENSITY = 0.35
DEFAULT_MIN_WORDS = 5


def _btext(b: Column) -> Column:
    """Block text: strip tags -> collapse whitespace -> trim."""
    return F.trim(F.regexp_replace(F.regexp_replace(b, _RE_TAG, " "), _RE_WS, " "))


def _block_stats(H: Column) -> Column:
    """array<struct(t, l)>: non-empty block texts with their anchor-text
    char counts (the jusText block features)."""
    clean = F.regexp_replace(F.regexp_replace(H, _RE_SCRIPT, " "), _RE_STYLE, " ")
    blocks = F.split(F.regexp_replace(clean, _RE_BLOCK_SEP, "\n"), "\n")
    return F.filter(
        F.transform(
            blocks,
            lambda b: F.struct(
                _btext(b).alias("t"),
                F.aggregate(
                    F.regexp_extract_all(b, F.lit(_RE_ANCHOR), F.lit(1)),
                    F.lit(0),
                    lambda acc, x: acc + F.length(_btext(x)),
                ).alias("l"),
            ),
        ),
        lambda s: s["t"] != "",
    )


def _kept_blocks(
    stats: Column,
    max_link_density: float = DEFAULT_MAX_LINK_DENSITY,
    min_words: int = DEFAULT_MIN_WORDS,
) -> Column:
    """The blocks classified as main content (word count + link
    density thresholds)."""
    return F.filter(
        stats,
        lambda s: (F.size(F.split(s["t"], " ")) >= F.lit(min_words))
        & (s["l"].cast("double") <= F.lit(max_link_density) * F.length(s["t"])),
    )


def main_text_col(
    html_col: str = "html",
    max_link_density: float = DEFAULT_MAX_LINK_DENSITY,
    min_words: int = DEFAULT_MIN_WORDS,
) -> Column:
    """Just the extracted main text, as a standalone stateless Column —
    the same expression html_extract emits, packaged so a projection
    can run extraction inline (x130's extract -> filter chain; it is
    pure per-row string/array work, so it needs no state)."""
    H = F.coalesce(F.col(html_col), F.lit(""))
    kept = _kept_blocks(_block_stats(H), max_link_density, min_words)
    return F.array_join(F.transform(kept, lambda s: s["t"]), "\n")


def html_extract(
    docs: DataFrame,
    html_col: str = "html",
    id_col: str = "doc_id",
    max_link_density: float = DEFAULT_MAX_LINK_DENSITY,
    min_words: int = DEFAULT_MIN_WORDS,
) -> DataFrame:
    """Extract main text + boilerplate audit columns from an HTML
    column. See module docstring for the classifier semantics; the
    DuckDB replay is html_extract_oracle_sql."""
    H = F.coalesce(F.col(html_col), F.lit(""))
    clean = F.regexp_replace(F.regexp_replace(H, _RE_SCRIPT, " "), _RE_STYLE, " ")
    stats = _block_stats(H)
    kept = _kept_blocks(stats, max_link_density, min_words)
    total_text = F.aggregate(stats, F.lit(0), lambda acc, s: acc + F.length(s["t"]))
    total_link = F.aggregate(stats, F.lit(0), lambda acc, s: acc + s["l"])
    text_chars = F.length(F.regexp_replace(clean, _RE_TAG, ""))
    return docs.select(
        id_col,
        F.array_join(F.transform(kept, lambda s: s["t"]), "\n").alias("main_text"),
        F.round(
            F.when(F.length(H) == 0, F.lit(0.0)).otherwise(
                (F.length(H) - text_chars).cast("double") / F.length(H)
            ),
            4,
        ).alias("tag_fraction"),
        F.round(
            F.when(total_text == 0, F.lit(0.0)).otherwise(
                total_link.cast("double") / total_text
            ),
            4,
        ).alias("link_density"),
        F.round(
            F.when(F.size(stats) == 0, F.lit(0.0)).otherwise(
                F.size(kept).cast("double") / F.size(stats)
            ),
            4,
        ).alias("kept_share"),
        F.size(stats).cast("long").alias("n_blocks"),
        F.size(kept).cast("long").alias("n_kept"),
    )


# --------------------------------------------------------------------------
# Deterministic markup fixture (the x65 pattern: the corpus carries no
# markup, so the query SYNTHESIZES documents-with-markup from doc_id +
# text identically in both engines, then extracts). Fragments are
# module constants so the Catalyst expression and the SQL text cannot
# drift apart.
# --------------------------------------------------------------------------

_FRAG_HEAD = "<html><head><title>Doc "
_FRAG_SCRIPT = (
    '<script type="text/javascript">var a=1;if(a<2){a=a+1;}'
    "//<p>not text</p></script>"
)
_FRAG_STYLE = "<style>.menu{color:#333;}</style>"
_FRAG_NAV = (
    '</head><body><nav><a href="/">Home</a> <a href="/about">About</a> '
    '<a href="/blog">Blog</a></nav>'
)
_FRAG_H1 = "<h1>Post "
_FRAG_P_OPEN = "</h1><p>"
_FRAG_P_CLOSE = "</p>"
_FRAG_PROMO = (
    '<div class="promo"><a href="/buy">Buy now</a> '
    '<a href="/deals">Deals</a></div>'
)
_FRAG_FOOTER = (
    '<div class="footer"><a href="/terms">Terms</a> | '
    '<a href="/privacy">Privacy</a> (c) example.com</div></body></html>'
)


def synth_markup_col(id_col: str = "doc_id", text_col: str = "text") -> Column:
    """Deterministic HTML wrapper around a document: boilerplate nav /
    promo / footer (link-dense), a script with embedded fake markup
    (d%3==0), a style block (d%4==0), and the real text as the one
    content paragraph."""
    d = F.col(id_col)
    ds = d.cast("string")
    return F.concat(
        F.lit(_FRAG_HEAD),
        ds,
        F.lit("</title>"),
        F.when(d % 3 == 0, F.lit(_FRAG_SCRIPT)).otherwise(F.lit("")),
        F.when(d % 4 == 0, F.lit(_FRAG_STYLE)).otherwise(F.lit("")),
        F.lit(_FRAG_NAV),
        F.lit(_FRAG_H1),
        ds,
        F.lit(_FRAG_P_OPEN),
        F.col(text_col),
        F.lit(_FRAG_P_CLOSE),
        F.when(d % 2 == 0, F.lit(_FRAG_PROMO)).otherwise(F.lit("")),
        F.lit(_FRAG_FOOTER),
    )


def synth_markup_sql(table: str = "documents") -> str:
    """The same synthesis as synth_markup_col, as a DuckDB SELECT."""
    return f"""
SELECT doc_id,
    '{_FRAG_HEAD}' || CAST(doc_id AS VARCHAR) || '</title>'
    || CASE WHEN doc_id % 3 = 0 THEN '{_FRAG_SCRIPT}' ELSE '' END
    || CASE WHEN doc_id % 4 = 0 THEN '{_FRAG_STYLE}' ELSE '' END
    || '{_FRAG_NAV}'
    || '{_FRAG_H1}' || CAST(doc_id AS VARCHAR) || '{_FRAG_P_OPEN}'
    || text || '{_FRAG_P_CLOSE}'
    || CASE WHEN doc_id % 2 = 0 THEN '{_FRAG_PROMO}' ELSE '' END
    || '{_FRAG_FOOTER}' AS html
FROM {table}"""


def html_extract_oracle_sql(
    max_link_density: float = DEFAULT_MAX_LINK_DENSITY,
    min_words: int = DEFAULT_MIN_WORDS,
) -> str:
    """DuckDB replay of synth_markup_col + html_extract over the
    documents table (the x127 oracle)."""
    return extract_sql(
        synth_markup_sql(), max_link_density=max_link_density, min_words=min_words
    )


def extract_sql(
    source_sql: str,
    max_link_density: float = DEFAULT_MAX_LINK_DENSITY,
    min_words: int = DEFAULT_MIN_WORDS,
) -> str:
    """DuckDB replay of html_extract over any (doc_id, html) source
    SELECT: identical regex texts (same module constants), identical
    integer-ratio 4-dp rounds. DuckDB's regexp_replace needs the 'g'
    option for the replace-all Spark does by default; empty
    array_to_string is NULL in DuckDB vs '' in Spark, hence the
    coalesce; NULL html is '' in the extractor, hence the other one."""
    return f"""
WITH synth AS (SELECT doc_id, coalesce(html, '') AS html FROM ({source_sql})),
cleaned AS (
    SELECT doc_id, html,
        regexp_replace(regexp_replace(html, '{_RE_SCRIPT}', ' ', 'g'),
                       '{_RE_STYLE}', ' ', 'g') AS clean
    FROM synth
),
seg AS (
    SELECT doc_id, html, clean,
        list_filter(
            list_transform(
                string_split(regexp_replace(clean, '{_RE_BLOCK_SEP}', chr(10), 'g'), chr(10)),
                b -> struct_pack(
                    t := trim(regexp_replace(regexp_replace(b, '{_RE_TAG}', ' ', 'g'), '{_RE_WS}', ' ', 'g')),
                    l := coalesce(list_sum(list_transform(
                            regexp_extract_all(b, '{_RE_ANCHOR}', 1),
                            x -> length(trim(regexp_replace(regexp_replace(x, '{_RE_TAG}', ' ', 'g'), '{_RE_WS}', ' ', 'g'))))), 0))),
            s -> s.t <> '') AS st
    FROM cleaned
),
kept AS (
    SELECT doc_id, html, clean, st,
        list_filter(st, s -> len(string_split(s.t, ' ')) >= {min_words}
                         AND s.l <= {max_link_density!r}::DOUBLE * length(s.t)) AS kp
    FROM seg
)
SELECT doc_id,
    coalesce(array_to_string(list_transform(kp, s -> s.t), chr(10)), '') AS main_text,
    round(CASE WHEN length(html) = 0 THEN 0.0
          ELSE (length(html) - length(regexp_replace(clean, '{_RE_TAG}', '', 'g')))::DOUBLE / length(html) END, 4) AS tag_fraction,
    round(CASE WHEN coalesce(list_sum(list_transform(st, s -> length(s.t))), 0) = 0 THEN 0.0
          ELSE coalesce(list_sum(list_transform(st, s -> s.l)), 0)::DOUBLE
               / list_sum(list_transform(st, s -> length(s.t))) END, 4) AS link_density,
    round(CASE WHEN len(st) = 0 THEN 0.0 ELSE len(kp)::DOUBLE / len(st) END, 4) AS kept_share,
    CAST(len(st) AS BIGINT) AS n_blocks,
    CAST(len(kp) AS BIGINT) AS n_kept
FROM kept
"""
