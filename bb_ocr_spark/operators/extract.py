"""Main-content extraction over the interleaved spans table — the flagship.

Because the input holds one row per document with the FULL span array, the
whole extraction (classify → strip boilerplate → restore offset order →
re-emit with media refs interleaved) is expressed with higher-order array
functions: a NARROW, zero-shuffle, map-only plan. At 10^12 docs this is
embarrassingly parallel — no groupBy, no skew, scaling efficiency ≈ 1.0 —
and every expression is JVM-side, no Python in the hot path at all. The
higher-order functions (filter, transform, array_sort) fall back from
whole-stage codegen, so their lambdas are INTERPRETED once per span: the
cost is per expression node per span, and the classifier and normalizer
are written to run as few and as cheap nodes as exact equivalence allows.

Component timing (seed-1 benchmark corpus: 10k docs, 181k text spans;
4-core VM, local[4]; each row applies one expression to every non-blank
text span through filter+transform into a noop sink; median of 7 reps
in each of two fresh JVMs, averaged; seconds):

    scan only, size(spans)                       0.09
    filter+transform returning the text          0.18   (baseline)
    ntok  regexp_count [^ \t\n\r]+               0.26
    nlink regexp_count LINK_TOKEN_COUNT_RE       0.35
    link gate, 6 x contains                      0.22
    alnum translate / nonws translate            0.29 / 0.29
    trim regexp_replace / trim(text, ' \t\n\r')  0.27 / 0.20
    squeeze regexp_replace                       0.25
    classifier  (ungated -> gated)               0.70 -> 0.50
    normalizer  (regex trim -> trim)             0.34 -> 0.26
    extract_inline, noop sink                    1.01 -> 0.76

90% of the text spans contain no gate literal, so the two regexp_counts
run on the remaining 10%; the two translates are now the classifier's
largest cost.

Mega-doc skew costs nothing here: a 10^5-span doc is one wide row processed
vectorized; there is no hot reduce key. (The salted two-phase path for
inputs that arrive as EXPLODED span rows lives in operators/assemble.py.)

Reference parity: boilerplate strip = block classifier analog
(enhanced_extractor.py:239-372 density-mask block detection); empty-text
filter (enhanced_extractor.py:689,706-707); offset ordering = sorted page
listing (enhanced_extractor.py:1024); media passthrough = interleaving of
image pages with OCR spans. Rules frozen in config.py, oracle in oracle.py.
"""

from __future__ import annotations

import functools
import operator

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from .. import config

OUT_SCHEMA_DDL = (
    "doc_id string, spans array<struct<kind:string,text:string,media_ref:string>>"
)


def is_boilerplate_text_col(text: Column) -> Column:
    """Link-density + alnum-density classifier, identical semantics to
    oracle.is_boilerplate_text. Assumes text is non-null and non-blank.

    Counting is done with regexp_count and translate() — no split() token
    arrays, no regexp_replace string rewrites:
      ntok  = # non-ws runs           (== len(split tokens))
      nlink = # tokens matching LINK_TOKEN_RE, via the same alternatives
              fenced by ws/edge lookarounds (token-exact match)
      alnum / nonws = per-char class counts via translate() — a charmap
              delete, no regex engine at all
    Both counts sit behind a `contains` gate on config.LINK_GATE_LITERALS:
    a text with none of them has nlink == 0, so its link density is 0 and
    the test is false without running either regex (most spans). The
    gate is exact, not a heuristic; tests/test_fuzz.py pins it to the
    regex alternatives.
    """
    import string  # noqa: PLC0415

    alnum_chars = string.ascii_letters + string.digits
    maybe_link = functools.reduce(
        operator.or_, (text.contains(lit) for lit in config.LINK_GATE_LITERALS)
    )
    ntok = F.regexp_count(text, F.lit(r"[^ \t\n\r]+"))
    nlink = F.regexp_count(text, F.lit(config.LINK_TOKEN_COUNT_RE))
    alnum = F.length(text) - F.length(F.translate(text, alnum_chars, ""))
    nonws = F.length(F.translate(text, " \t\n\r", ""))
    # And evaluates its right side only when the left one is true
    link_dense = maybe_link & (
        nlink.cast("double") / ntok > F.lit(config.LINK_DENSITY_MAX)
    )
    return link_dense | (
        alnum.cast("double") / nonws < F.lit(config.ALNUM_DENSITY_MIN)
    )


def normalize_text_col(text: Column) -> Column:
    # trim pinned to the frozen ASCII set: one-argument trim() strips only
    # 0x20, and a `[ \t\n\r]+$` regex also strips before a final \u2028
    # (Java's $ matches before a trailing line terminator)
    trimmed = F.trim(text, F.lit(" \t\n\r"))
    return F.regexp_replace(trimmed, config.WS_SQUEEZE_RE, " ")


def keep_span_pred(s: Column) -> Column:
    """True for spans that survive main-content extraction."""
    # contains-a-non-ws-char == trim(text) != '', without the trim allocation
    nonblank = s["text"].isNotNull() & s["text"].rlike(r"[^ \t\n\r]")
    return (s["kind"] == "media") | (
        (s["kind"] == "text") & nonblank & ~is_boilerplate_text_col(s["text"])
    )


def extracted_spans_col(spans: Column) -> Column:
    """array<struct<kind,text,media_ref>> — the golden-comparable sequence.

    filter → lift offset to the leading struct field → array_sort
    (lexicographic ⇒ offset order; offsets unique per doc) → drop offset.
    """
    kept = F.filter(spans, keep_span_pred)
    keyed = F.transform(
        kept,
        lambda s: F.struct(
            s["offset"].alias("offset"),
            s["kind"].alias("kind"),
            normalize_text_col(s["text"]).alias("text"),
            s["media_ref"].alias("media_ref"),
        ),
    )
    return F.transform(
        F.array_sort(keyed),
        lambda s: F.struct(
            s["kind"].alias("kind"),
            s["text"].alias("text"),
            s["media_ref"].alias("media_ref"),
        ),
    )


def extract_inline(df: DataFrame) -> DataFrame:
    """documents_interleaved → (doc_id, spans) extracted, offset-ordered."""
    return df.select("doc_id", extracted_spans_col(F.col("spans")).alias("spans"))


def context_text_col(extracted: Column) -> Column:
    """Length-capped joined text context for metadata extraction.

    Spans longer than MAX_CONTEXT_CHARS_PER_SPAN are dropped from context
    (reference max_ocr_chars_per_image guard, enhanced_extractor.py:690-705);
    join with single spaces (enhanced_extractor.py:520-521).
    """
    texts = F.transform(
        F.filter(
            extracted,
            lambda s: (s["kind"] == "text")
            & (F.length(s["text"]) <= config.MAX_CONTEXT_CHARS_PER_SPAN),
        ),
        lambda s: s["text"],
    )
    return F.array_join(texts, " ")


def checksum_spans_col(extracted: Column) -> Column:
    """Order-sensitive 64-bit checksum of a span sequence WITHOUT
    materializing a serialized string: per-span xxhash64 over
    (position, kind, text, media_ref), folded with xor.

    The serialize-then-hash alternative builds a ~300 KB UTF8 string per
    mega-doc — measured memory-bandwidth-bound (0.41 scaling efficiency at
    8→32 cores vs 1.09 for the extraction itself). This fold stays in
    registers."""
    per_span = F.transform(
        extracted,
        lambda s, i: F.xxhash64(
            i,
            s["kind"],
            F.coalesce(s["text"], F.lit("\x00")),
            F.coalesce(s["media_ref"], F.lit("\x00")),
        ),
    )
    return F.aggregate(
        per_span, F.lit(0).cast("long"), lambda acc, h: acc.bitwiseXOR(h)
    )


def serialize_spans_col(extracted: Column) -> Column:
    """Stable string encoding of a span sequence (for checksums / oracles):
    unit-separated fields, record-separated spans."""
    return F.array_join(
        F.transform(
            extracted,
            lambda s: F.concat_ws(
                "\x1f",
                s["kind"],
                F.coalesce(s["text"], F.lit("\x00")),
                F.coalesce(s["media_ref"], F.lit("\x00")),
            ),
        ),
        "\x1e",
    )
