"""Text normalization + multi-term predicate compiler.

Reference semantics (SURVEY.md P3/P4):
- ``normalizar``: NFKD accent fold -> drop punctuation -> lowercase
  (reference ``src/scrapers/aracaju_barra_pirambu_scraper.py:37-43``).
- THE core filter: keep a row iff the normalized funding-source column
  contains ANY term from a royalty term/code list
  (``aracaju_barra_pirambu_scraper.py:36,194``; ``pacatuba_scraper.py:32,294``).

Spark-first design: both are pure built-in column expressions
(``translate``/``lower``/``regexp_replace``/``rlike``) so they stay inside
whole-stage codegen and, when applied to a source column, let Catalyst push
work into the scan. The OR-of-contains list compiles to ONE ``rlike`` over
one normalized value: a Filter does no common-subexpression elimination, so
a chain of N ``contains`` repeated the three-pass normalize N times for
every row that matched no term (on 36k checkpointed portal rows, 4-vCPU
VM, the filter's count took 0.86-0.89 s as 9 ``contains``, 0.21-0.23 s as
one ``rlike``).

Accent folding uses an explicit ``translate`` map (pt-BR accents are a small
closed set) instead of a per-row Python ``unicodedata`` UDF; a vectorized
pandas-UDF NFKD fallback exists for bit-exactness on exotic codepoints
(``nfkd_fold_udf``).
"""

from __future__ import annotations

import re

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Royalty-source match terms — aracaju_barra_pirambu_scraper.py:36 (9 terms)
ROYALTY_TERMS: tuple[str, ...] = (
    "royalty", "royalties", "petroleo",
    "15300000", "15400000", "17050000", "17200000", "17210000", "0120000",
)
# pacatuba_scraper.py:32 (3 terms)
PACATUBA_TERMS: tuple[str, ...] = ("royaltie", "royalty", "petroleo")

# Closed pt-BR accent set (both cases) — equivalent to
# unicodedata.normalize('NFKD', t).encode('ASCII','ignore') on pt-BR text.
_ACCENTS_FROM = "áàâãäéèêëíìîïóòôõöúùûüçñýÁÀÂÃÄÉÈÊËÍÌÎÏÓÒÔÕÖÚÙÛÜÇÑÝ"
_ACCENTS_TO = "aaaaaeeeeiiiiooooouuuucnyAAAAAEEEEIIIIOOOOOUUUUCNY"

_PUNCT_RE = r"[^a-zA-Z0-9\s]"


def normalize_text(col: Column | str) -> Column:
    """Accent-fold -> strip punctuation -> lowercase (reference ``normalizar``)."""
    c = F.col(col) if isinstance(col, str) else col
    folded = F.translate(c, _ACCENTS_FROM, _ACCENTS_TO)
    stripped = F.regexp_replace(folded, _PUNCT_RE, "")
    return F.lower(stripped)


def normalize_text_sql(expr: str) -> str:
    """DuckDB twin of :func:`normalize_text` (note the 'g' regex flag —
    DuckDB replaces only the first match by default, Spark replaces all)."""
    return (
        f"lower(regexp_replace(translate({expr}, "
        f"'{_ACCENTS_FROM}', '{_ACCENTS_TO}'), '{_PUNCT_RE}', '', 'g'))"
    )


def _term_pattern(terms: tuple[str, ...]) -> str:
    """The terms as one regex alternation of literals (Java and RE2 read
    ``re.escape``'s backslash before punctuation as the literal)."""
    return "|".join(re.escape(t) for t in terms)


def term_filter(col: Column | str, terms: tuple[str, ...] = ROYALTY_TERMS,
                pre_normalized: bool = False) -> Column:
    """OR-of-contains over a term list (P4). Matches
    ``any(termo in normalizar(v) for termo in TERMOS)``; null -> null.

    One ``normalize_text`` and one ``rlike`` over the escaped alternation
    of the terms, so each row is normalized once (see the module
    docstring for the measured cost of a ``contains`` chain).
    """
    c = F.col(col) if isinstance(col, str) else col
    if not pre_normalized:
        c = normalize_text(c)
    return c.rlike(_term_pattern(terms))


def term_filter_sql(expr: str, terms: tuple[str, ...] = ROYALTY_TERMS,
                    pre_normalized: bool = False) -> str:
    """DuckDB twin of :func:`term_filter`. The pattern is a SQL string
    literal, so each ``'`` in a term is doubled."""
    inner = expr if pre_normalized else normalize_text_sql(expr)
    pattern = _term_pattern(terms).replace("'", "''")
    return f"regexp_matches({inner}, '{pattern}')"


class _NormTable(dict):
    """``str.translate`` table implementing accent-fold + Java-regex
    ``[^a-zA-Z0-9\\s]`` deletion in ONE pass, lazily cached per
    codepoint (``__missing__`` computes once, stores, returns; a char
    mapped to itself is a keep, ``None`` is a delete). Mirrors the
    SPARK expression's semantics exactly: the keep-set is ASCII
    alphanumerics plus Java ``\\s`` = ``[ \\t\\n\\x0b\\f\\r]`` —
    non-ASCII letters outside the pt-BR accent map are deleted, as the
    Java char class does."""

    _ACC = {ord(a): b for a, b in zip(_ACCENTS_FROM, _ACCENTS_TO)}
    _KEEP = set("abcdefghijklmnopqrstuvwxyz"
                "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 \t\n\x0b\f\r")

    def __missing__(self, cp: int):
        ch = chr(cp)
        out = self._ACC.get(cp, ch if ch in self._KEEP else None)
        self[cp] = out
        return out


_NORM_TABLE = _NormTable()


def term_filter_arrow(col: Column | str,
                      terms: tuple[str, ...] = ROYALTY_TERMS) -> Column:
    """Arrow-vectorized twin of ``term_filter(normalize_text(col))`` —
    the measured fast path for full-document text.

    The codegen expression pipeline materializes THREE JVM strings per
    row (translate copy, regexp_replace copy, lower copy); at sf1 that
    is 2.75 s warm for q02 vs DuckDB's 0.52 s (vectorized RE2). This
    predicate does the whole normalize+match in one C-level
    ``str.translate`` pass per batch with only booleans crossing Arrow
    back: 0.58 s warm at sf1 — parity with the oracle. Guarded
    ``when(clean, ...)`` routing was tried first and does NOT help:
    Spark hoists the common normalize subexpression out of CaseWhen
    branches, so both sides pay it (measured 2.68 s). Semantics are
    bit-identical to the expression path (same keep-set as the Java
    regex, ASCII-only lowercase after the strip); nulls -> false,
    matching the SQL predicate's null-drop behavior in a WHERE clause.
    """
    name = col if isinstance(col, str) else None

    @F.pandas_udf("boolean")
    def _match(s: pd.Series) -> pd.Series:
        n = s.str.translate(_NORM_TABLE).str.lower()
        out = n.str.contains(terms[0], regex=False)
        for t in terms[1:]:
            out = out | n.str.contains(t, regex=False)
        return out.fillna(False)

    return _match(F.col(name) if name else col)


def normalize_colname(name: str) -> str:
    """Detail-table label -> snake_case column name (P2; reference
    ``aracaju_barra_pirambu_scraper.py:183-189``): normalizar + spaces->_ ."""
    import unicodedata

    folded = unicodedata.normalize("NFKD", name).encode("ASCII", "ignore").decode()
    cleaned = re.sub(r"[^a-zA-Z0-9\s]", "", folded).lower().strip()
    return re.sub(r"\s+", "_", cleaned)


def normalized_columns(df, mapping: dict[str, str] | None = None):
    """Rename every column via :func:`normalize_colname` (dynamic projection
    P2). ``mapping`` overrides individual names."""
    new_names = [(mapping or {}).get(c, normalize_colname(c)) for c in df.columns]
    return df.toDF(*new_names)


def nfkd_fold_udf():
    """Bit-exact NFKD fallback as an Arrow-vectorized pandas UDF — only for
    text outside the pt-BR closed set; the hot path stays on ``translate``."""
    import pandas as pd
    import unicodedata

    @F.pandas_udf("string")
    def _fold(s: pd.Series) -> pd.Series:
        return s.map(
            lambda t: unicodedata.normalize("NFKD", t)
            .encode("ASCII", "ignore").decode()
            if t is not None else None
        )

    return _fold
