"""Pure Column builders for transcript/text processing.

Everything here compiles to JVM-side Catalyst expressions (no Python
UDFs), so it runs inside whole-stage codegen and scales linearly.

Reference parity: clean_text (preprocessor.py:69-89), format_timestamp
(preprocessor.py:91-107), token counting (big_chunkeroosky.py uses
tiktoken; we define a deterministic BPE-ish regex token count — word
runs and single non-space punctuation/CJK marks each count as one
token — which both Spark and any ANSI engine with regexp_extract_all
compute identically).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Word runs or single non-word non-space chars (each CJK char = 1 token).
TOKEN_PATTERN = r"\w+|[^\w\s]"


def clean_text(col: Column) -> Column:
    """Whitespace collapse + missing-space-after-punctuation fix.

    RE2-safe subset of the reference's clean_text (no backreference
    patterns), so an ANSI/RE2 oracle computes the identical result.
    """
    collapsed = F.regexp_replace(F.trim(col), r"\s+", " ")
    return F.regexp_replace(collapsed, r"([.!?])([A-Za-z])", r"$1 $2")


def clean_text_full(col: Column) -> Column:
    """Full-fidelity clean_text incl. repeated-word removal.

    The `\\b(\\w+)( \\1\\b)+` backreference rule (preprocessor.py:84)
    needs Java regex; RE2 engines can't express it, so this variant is
    used by the pipeline API but not by oracle-checked queries.
    """
    deduped = F.regexp_replace(clean_text(col), r"\b(\w+)( \1\b)+", r"$1")
    return deduped


def format_timestamp(seconds: Column) -> Column:
    """Seconds -> 'HH:MM:SS' if hours > 0 else 'MM:SS' (reference format).

    Matches preprocessor.format_timestamp: divmod on int(seconds)
    (truncation via floor — both engines' double->int casts differ, so
    floor() is explicit).
    """
    total = F.floor(seconds).cast("long")
    hours = (total / 3600).cast("long")
    rem = total % 3600
    minutes = (rem / 60).cast("long")
    secs = rem % 60
    two = lambda c: F.lpad(c.cast("string"), 2, "0")  # noqa: E731
    return F.when(
        hours > 0, F.concat_ws(":", two(hours), two(minutes), two(secs))
    ).otherwise(F.concat_ws(":", two(minutes), two(secs)))


def token_count(col: Column) -> Column:
    """Deterministic BPE-ish token count (see TOKEN_PATTERN)."""
    return F.size(F.regexp_extract_all(col, F.lit(TOKEN_PATTERN), 0))


def quantize(col: Column, decimals: int) -> Column:
    """floor(x*10^d + 0.5)/10^d — half-up rounding computed purely in
    IEEE doubles. Unlike engine round() (decimal-string HALF_UP in
    Spark vs binary nearbyint in DuckDB), this is bit-identical across
    engines whenever the input doubles are bit-identical — which ratio
    columns (small-integer fractions) hit constantly at grid
    boundaries. Use for any ratio/score output; keep round() only for
    large-magnitude sums where boundaries are measure-zero.
    """
    scale = float(10**decimals)
    return F.floor(col * scale + 0.5) / scale


def sql_quantize(expr: str, decimals: int) -> str:
    scale = float(10**decimals)
    return f"(floor(({expr}) * {scale} + 0.5) / {scale})"


# --- SQL fragments (DuckDB oracle twins of the Columns above) ---------

SQL_CLEAN = (
    "regexp_replace(regexp_replace(trim({c}), '\\s+', ' ', 'g'),"
    " '([.!?])([A-Za-z])', '\\1 \\2', 'g')"
)

# RE2 has no backreferences, so the repeated-word rule
# `\b(\w+)( \1\b)+` -> `\1` is re-expressed as a left fold over the
# (already whitespace-collapsed) tokens: drop a token's word-prefix
# when it equals the accumulator's trailing word-run. Java quirk
# mirrored exactly: `\w` is ASCII but `\b` is UNICODE-aware, so the
# run must sit at a *unicode* word boundary on both sides — hence the
# `[^\p{L}\p{N}\p{M}_]`-or-edge context in both extracts (a bare
# `(\w+)$` would wrongly collapse `aä`-style tokens). Fuzz-verified
# against the Spark/Java rule in tests/test_fuzz_parity.py.
SQL_DEDUP_WORDS = r"""list_reduce(string_split({c}, ' '),
  (acc, t) -> CASE WHEN regexp_extract(acc,
                     '(?:^|[^\p{{L}}\p{{N}}\p{{M}}_])(\w+)$', 1) <> ''
                    AND regexp_extract(acc,
                     '(?:^|[^\p{{L}}\p{{N}}\p{{M}}_])(\w+)$', 1)
                        = regexp_extract(t,
                     '^(\w+)(?:[^\p{{L}}\p{{N}}\p{{M}}_]|$)', 1)
               THEN acc || regexp_replace(t, '^\w+', '')
               ELSE acc || ' ' || t END)"""

SQL_FMT_TS = (
    "CASE WHEN CAST(floor({s}) AS BIGINT) // 3600 > 0 "
    "THEN lpad(CAST(CAST(floor({s}) AS BIGINT) // 3600 AS VARCHAR), 2, '0') || ':' || "
    "lpad(CAST((CAST(floor({s}) AS BIGINT) % 3600) // 60 AS VARCHAR), 2, '0') || ':' || "
    "lpad(CAST(CAST(floor({s}) AS BIGINT) % 60 AS VARCHAR), 2, '0') "
    "ELSE lpad(CAST((CAST(floor({s}) AS BIGINT) % 3600) // 60 AS VARCHAR), 2, '0') || ':' || "
    "lpad(CAST(CAST(floor({s}) AS BIGINT) % 60 AS VARCHAR), 2, '0') END"
)

SQL_TOKEN_COUNT = r"len(regexp_extract_all({c}, '\w+|[^\w\s]'))"
