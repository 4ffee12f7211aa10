"""Unit tests for the scalar function layer (normalize/money/dates) —
including bit-exactness of the translate-based accent fold vs the NFKD
reference semantics (SURVEY.md §7 risk 1)."""

from __future__ import annotations

import re
import unicodedata

import duckdb
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_transparencia_sergipe_spark.functions import (
    ROYALTY_TERMS,
    format_ptbr_money,
    normalize_colname,
    normalize_text,
    parse_br_date,
    parse_ptbr_money,
    term_filter,
)
from etl_transparencia_sergipe_spark.functions.normalize import (
    normalized_columns,
    term_filter_sql,
)

# Strings mirroring the reference corpus (fonte_de_recurso values,
# FIXTURES.md F1) plus edge cases.
SAMPLES = [
    "17200000 - Transferências da União Referentes a Royalties",
    "ROYALTIES DO PETRÓLEO",
    "Recursos não vinculados de Impostos",
    "Educação básica",
    "Ação; pontuação!!! (teste)",
    "  espaços  ",
    "",
    "15300000",
    "Royalty-petróleo: R$ 1.234,56",
]


def reference_normalizar(texto: str) -> str:
    """Reference semantics: aracaju_barra_pirambu_scraper.py:39-43."""
    if not isinstance(texto, str):
        return ""
    texto = unicodedata.normalize("NFKD", texto).encode(
        "ASCII", "ignore").decode("utf-8")
    texto = re.sub(r"[^a-zA-Z0-9\s]", "", texto)
    return texto.lower()


def test_normalize_text_matches_reference_semantics(spark):
    df = spark.createDataFrame([(s,) for s in SAMPLES], ["t"])
    got = [r.n for r in df.select(normalize_text("t").alias("n")).collect()]
    want = [reference_normalizar(s) for s in SAMPLES]
    assert got == want


def test_term_filter_matches_reference_any_contains(spark):
    df = spark.createDataFrame([(s,) for s in SAMPLES], ["t"])
    got = [r.m for r in df.select(term_filter("t").alias("m")).collect()]
    want = [
        any(term in reference_normalizar(s) for term in ROYALTY_TERMS)
        for s in SAMPLES
    ]
    assert got == want
    assert sum(got) == 4  # 17200000+royalties, royalties petroleo, 15300000, royaltypetroleo


# Values built from pieces that make and break royalty matches: words
# split by punctuation the normalize step deletes ("royal-ty"), accents,
# stray whitespace; terms with regex metacharacters, which must match as
# literals. \v and \x1c-\x1f stay out: Java, RE2 and Python disagree on
# whether they are \s.
_PIECES = st.sampled_from([
    "royal", "ty", "ties", "Royal-ty", "ROYAL", "PETRÓ", "petró", "leo",
    "Petróleo", "1530", "0000", "17200000", "0120000", "roy.lty", "a+b",
    "(pe", "1|5", "ação", " ", "  ", "\t", "\n", "-", ".", "(", ")", "+",
    "|", ";", "R$", "ç", "'", "d'agua",
])
_VALUE = st.one_of(st.none(), st.lists(_PIECES, max_size=6).map("".join))
_TERM = st.one_of(
    st.sampled_from(ROYALTY_TERMS + ("roy.lty", "petr.leo", "a+b", "(pe",
                                     "1|5", "ty|pe", "royal ty", "d'agua")),
    st.text(alphabet="royaltiespc015.+(|)' \t", min_size=1, max_size=5))


@settings(max_examples=30, deadline=None)
@given(st.lists(_VALUE, min_size=1, max_size=12),
       st.lists(_TERM, min_size=1, max_size=5).map(tuple), st.booleans())
def test_term_filter_matches_reference_and_duckdb_twin(spark, values, terms,
                                                       pre_normalized):
    """``term_filter`` keeps exactly the rows the reference keeps, and its
    DuckDB twin ``term_filter_sql`` gives the same answer row for row;
    null stays null in both engines."""
    def want(v):
        if v is None:
            return None
        n = v if pre_normalized else reference_normalizar(v)
        return any(t in n for t in terms)

    df = spark.createDataFrame(list(enumerate(values)), "i int, v string")
    got = [r.m for r in df.orderBy("i").select(
        term_filter("v", terms, pre_normalized).alias("m")).collect()]
    assert got == [want(v) for v in values]
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE t (i INT, v VARCHAR)")
        con.executemany("INSERT INTO t VALUES (?, ?)",
                        list(enumerate(values)))
        twin = [m for (m,) in con.execute(
            f"SELECT {term_filter_sql('v', terms, pre_normalized)} "
            "FROM t ORDER BY i").fetchall()]
    finally:
        con.close()
    assert twin == got


def test_term_filter_sql_quotes_apostrophes():
    """A term with an apostrophe (a place name such as ``d'agua``) stays
    inside the DuckDB string literal."""
    con = duckdb.connect()
    try:
        got = [con.execute("SELECT " + term_filter_sql(v, ("d'agua",), True)
                           ).fetchone()[0]
               for v in ("'olho d''agua'", "'dagua'")]
    finally:
        con.close()
    assert got == [True, False]


def _filter_conditions(df) -> list[str]:
    """SQL of every Filter condition in ``df``'s optimized plan."""
    out, todo = [], [df._jdf.queryExecution().optimizedPlan()]
    while todo:
        node = todo.pop()
        if node.nodeName() == "Filter":
            out.append(node.condition().sql())
        children = node.children()
        todo += [children.apply(i) for i in range(children.size())]
    return out


def test_royalty_filter_normalizes_each_row_once(spark):
    """The royalty pipeline's Filter evaluates the normalize step once per
    row: one regexp_replace, not one per term."""
    from etl_transparencia_sergipe_spark.pipelines import royalties_pipeline

    conds = _filter_conditions(
        royalties_pipeline(spark, ["aracaju"], [2024], [1]))
    assert sum(c.count("regexp_replace(") for c in conds) == 1, conds


def test_money_parse(spark):
    vals = ["R$ 178.530,84", "R$ 0,00", "R$ 1.234.567,89", "garbage", None,
            "R$ -12,50"]
    df = spark.createDataFrame([(v,) for v in vals], ["m"])
    got = [r.d for r in df.select(
        parse_ptbr_money("m").cast("double").alias("d")).collect()]
    assert got == [178530.84, 0.0, 1234567.89, None, None, -12.50]


def test_money_format_roundtrip(spark):
    vals = [178530.84, 0.0, 1234567.89, 7482.53, 0.05]
    df = spark.createDataFrame([(v,) for v in vals], ["v"])
    out = df.select(
        format_ptbr_money("v").alias("brl"),
        parse_ptbr_money(format_ptbr_money("v")).cast("double").alias("back"),
    ).collect()
    assert [r.brl for r in out] == [
        "R$ 178.530,84", "R$ 0,00", "R$ 1.234.567,89", "R$ 7.482,53", "R$ 0,05"]
    assert [r.back for r in out] == vals


def test_br_date_parse(spark):
    df = spark.createDataFrame([("31/01/2024",), ("26/12/2023",), ("bogus",)],
                               ["d"])
    got = [str(r.p) if r.p else None for r in
           df.select(parse_br_date("d").alias("p")).collect()]
    assert got == ["2024-01-31", "2023-12-26", None]


def test_normalize_colname(spark):
    # detail-label -> snake_case (aracaju_barra_pirambu_scraper.py:183-189)
    assert normalize_colname("Fonte de Recurso") == "fonte_de_recurso"
    assert normalize_colname("Natureza Despesa:") == "natureza_despesa"
    assert normalize_colname("Modalidade  Aplicação") == "modalidade_aplicacao"
    # NFKD decomposes 'º' to 'o' — matches the observed column name 'no_doc'
    # (OSR_aracaju_barra__pirambu.ipynb cell-32 output)
    assert normalize_colname("Nº Doc") == "no_doc"
    # P2 dynamic projection: every column renamed, ``mapping`` wins
    df = spark.createDataFrame([(1, 2, 3)],
                               ["Fonte de Recurso", "Nº Doc", "Ação"])
    assert normalized_columns(df).columns == [
        "fonte_de_recurso", "no_doc", "acao"]
    assert normalized_columns(df, {"Ação": "acao_orcamentaria"}).columns \
        == ["fonte_de_recurso", "no_doc", "acao_orcamentaria"]


def test_sentences_builtin_vs_regex_twin(spark):
    """F16 sentence segmentation: Spark's locale-aware sentences() and the
    oracle-able regex twin (q59) agree on plain punctuated prose — the
    regex variant exists because BreakIterator has no DuckDB oracle."""
    from pyspark.sql import functions as F

    df = spark.createDataFrame(
        [("One sentence. Two sentences! Three now? Yes.",),
         ("no terminal punctuation at all",)], ["text"])
    out = df.select(
        F.size(F.sentences("text")).alias("n_builtin"),
        F.expr(r"size(filter(split(text, '[.!?]+\\s*'), "
               "x -> length(trim(x)) > 0))").alias("n_regex"),
    ).collect()
    assert [(r.n_builtin, r.n_regex) for r in out] == [(4, 4), (1, 1)]


def test_term_filter_arrow_equivalent_to_expression_path(spark):
    """term_filter_arrow (the Arrow-vectorized q02 fast path) must agree
    with term_filter(normalize_text(...)) — including punctuation-
    spanning matches ("Royalty-petróleo" -> "royaltypetroleo" contains
    "petroleo" only after the strip), accents, non-ASCII letters outside
    the pt-BR map (deleted, like the Java char class), \x0b/\f
    whitespace, empty strings and nulls (-> false)."""
    from etl_transparencia_sergipe_spark.functions.normalize import (
        term_filter_arrow,
    )

    tricky = SAMPLES + [
        "pet" + "\u00df" + "roleo",   # eszett between chars: deleted -> match
        "s-t.r,e;a:m",                # pure punct-spanning "stream"? no: terms differ
        "ro!y@a#l$t%y",               # punct-spanning "royalty"
        "vector\x0bspace",            # Java \s keeps \x0b as separator
        "PETR\u00d3LEO",              # upper accented
        "\u4e2d\u6587 royalty \u4e2d\u6587",  # CJK deleted around a hit
        None,
    ]
    df = spark.createDataFrame([(s,) for s in tricky], "t string")
    expr = [r.m for r in df.select(
        term_filter("t").alias("m")).fillna(False, ["m"]).collect()]
    arrow = [r.m for r in df.select(
        term_filter_arrow("t").alias("m")).collect()]
    assert arrow == expr
