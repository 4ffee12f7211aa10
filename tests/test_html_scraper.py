"""Real HTML parsing through the fetch seam (sources/html_scraper.py):
reference-shaped DataTables month pages served over file://, parsed by
the anchored one-pass extractor (held equal to the stdlib html.parser
walk ``MonthPageParser`` on generated rows, and declining malformed
pages to it), run end-to-end through the DSv2 portal source, bound to
``html_fetch`` or pointed at the pages by option, with the royalty term
filter. A master row missing a cell is a parse error, so its page becomes
a ``fetch_error`` row rather than a payment with shifted columns."""

from __future__ import annotations

import re

import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from etl_transparencia_sergipe_spark.functions.normalize import term_filter
from etl_transparencia_sergipe_spark.sources.html_scraper import (
    MonthPageParser,
    _anchored_rows,
    html_fetch,
    parse_month_page,
    render_month_page,
    write_fixtures,
)
from etl_transparencia_sergipe_spark.sources.portal_datasource import load
from etl_transparencia_sergipe_spark.sources.scraper_source import (
    DETAIL_COLUMNS,
    MASTER_COLUMNS,
    synthetic_fetch,
)

CIDADES = ["aracaju", "pirambu"]
ANOS = [2024]
MESES = [1, 2]


@pytest.fixture(scope="module")
def html_base(tmp_path_factory):
    root = tmp_path_factory.mktemp("portal_pages")
    return write_fixtures(str(root), CIDADES, ANOS, MESES)


def _expected() -> pd.DataFrame:
    tasks = pd.DataFrame(
        [(c, a, m) for c in CIDADES for a in ANOS for m in MESES],
        columns=["cidade", "ano", "mes"])
    return synthetic_fetch(tasks)


def test_parse_roundtrips_rendered_page():
    rows = synthetic_fetch(pd.DataFrame(
        {"cidade": ["aracaju"], "ano": [2024], "mes": [3]}))
    parsed = parse_month_page(render_month_page(rows))
    assert len(parsed) == len(rows)
    # every master and detail value survives markup + parse, including
    # accents and the pt-BR currency strings
    for got, want in zip(parsed, rows.to_dict("records")):
        for col in ("orgao", "credor", "pago", "fonte_de_recurso",
                    "historico_pagamento", "acao", "funcao"):
            assert got[col] == want[col], col


def test_detail_labels_normalized_like_reference():
    # 'Fonte de Recurso:' / 'Histórico Pagamento:' -> snake_case keys
    # (aracaju_barra_pirambu_scraper.py:183-189 normalizar semantics)
    rows = synthetic_fetch(pd.DataFrame(
        {"cidade": ["pirambu"], "ano": [2024], "mes": [7]}))
    parsed = parse_month_page(render_month_page(rows))
    assert {"fonte_de_recurso", "historico_pagamento",
            "acao", "funcao"} <= set(parsed[0])


def test_portal_over_html_equals_synthetic(spark, html_base):
    got = load(spark, CIDADES, ANOS, MESES, html_fetch(html_base)).toPandas()
    want = _expected()
    key = ["cidade", "ano", "mes", "empenho", "processo"]
    got = got.sort_values(key).reset_index(drop=True)
    want = want.sort_values(key).reset_index(drop=True)
    pd.testing.assert_frame_equal(got[want.columns], want,
                                  check_dtype=False)


def test_dsv2_html_end_to_end_royalty_filter(spark, html_base):
    from etl_transparencia_sergipe_spark.sources.portal_datasource import (
        register,
    )

    register(spark)
    df = (
        spark.read.format("transparencia_portal")
        .option("cidades", ",".join(CIDADES))
        .option("anos", "2024")
        .option("meses", "1,2")
        .option("html_base", html_base)
        .load()
        .filter(F.col("cidade") == "aracaju")
        .filter(term_filter("fonte_de_recurso"))
    )
    got = df.select("cidade", "ano", "mes", "empenho",
                    "fonte_de_recurso").toPandas()
    # oracle: the same royalty predicate applied in pandas to the
    # synthetic rows the pages were rendered from
    want = _expected()
    want = want[want["cidade"] == "aracaju"]
    import unicodedata

    def norm(s: str) -> str:
        s = unicodedata.normalize("NFKD", s).encode("ASCII",
                                                    "ignore").decode()
        return re.sub(r"[^a-zA-Z0-9\s]", "", s).lower()

    terms = ("royalty", "royalties", "petroleo", "15300000", "15400000",
             "17050000", "17200000", "17210000", "0120000")
    mask = want["fonte_de_recurso"].map(
        lambda v: any(t in norm(v) for t in terms))
    want = want[mask]
    assert len(got) == len(want) > 0
    assert set(got["empenho"]) == set(want["empenho"])
    # every surviving row is genuinely royalty-funded
    assert got["fonte_de_recurso"].map(
        lambda v: any(t in norm(v) for t in terms)).all()


def _reference_rows(page: str) -> list[dict]:
    p = MonthPageParser()
    p.feed(page)
    p._flush()
    return p.rows


def test_valueless_class_attribute_parses():
    # html.parser reports ``<td class>`` as ("class", None)
    page = ('<table id="dataTables-Pagamentos"><tbody><tr role="row">'
            '<td class="details-control"></td><td class>X</td>'
            + "<td>v</td>" * (len(MASTER_COLUMNS) - 1)
            + "</tr></tbody></table>")
    assert parse_month_page(page) == [
        dict(zip(MASTER_COLUMNS, ["X"] + ["v"] * (len(MASTER_COLUMNS) - 1)))]


# cell text: accents, the five characters html.escape rewrites, and
# whitespace that ``str.strip`` removes (NBSP rendered as ``&nbsp;``)
_CELL_TEXT = st.text(st.one_of(
    st.sampled_from(list("aZ09 .,:-/ÇçãéÍõü&<>\"'\n\t\xa0")),
    st.characters(blacklist_categories=("Cs",))), max_size=12)


@settings(deadline=None)
@given(rows=st.lists(st.fixed_dictionaries(
    {c: _CELL_TEXT for c in MASTER_COLUMNS + DETAIL_COLUMNS}), max_size=4),
    nbsp_entity=st.booleans())
def test_anchored_extractor_equals_reference_parser(rows, nbsp_entity):
    page = render_month_page(pd.DataFrame(
        rows, columns=MASTER_COLUMNS + DETAIL_COLUMNS))
    if nbsp_entity:
        page = page.replace("\xa0", "&nbsp;")
    fast = _anchored_rows(page)
    assert fast is not None  # parity must not pass by falling back
    assert fast == _reference_rows(page)


def _two_row_page() -> str:
    rows = pd.DataFrame([[f"{c}{i}" for c in MASTER_COLUMNS + DETAIL_COLUMNS]
                         for i in (1, 2)],
                        columns=MASTER_COLUMNS + DETAIL_COLUMNS)
    return render_month_page(rows)


_OPEN = '<table id="dataTables-Pagamentos"><tbody>'


@pytest.mark.parametrize("edit", [
    pytest.param(lambda p: p.replace(
        "<tr><th>Função:</th><td>funcao1</td></tr>", "", 1),
        id="detail-3-keys"),
    pytest.param(lambda p: p.replace(
        "<td>credor1</td>", "<td><b>credor</b>1</td>", 1),
        id="nested-b"),
    pytest.param(lambda p: p.replace(
        '<tr class="detail-row">', '<tr class="detail-row" data-k="1">', 1),
        id="detail-tr-extra-attribute"),
    pytest.param(lambda p: p.replace(_OPEN, _OPEN + "<!-- page 1 -->"),
                 id="comment-in-tbody"),
    pytest.param(lambda p: p.replace(
        "</body>", '<table><tbody><tr role="row">'
        '<td class="details-control"></td><td>stray</td></tr>'
        "</tbody></table></body>"), id="role-rows-in-later-table"),
    pytest.param(lambda p: p.replace("dataTables-Pagamentos", "outra"),
                 id="no-target-table"),
    pytest.param(lambda p: p.replace("<body>", "<body><!-- ").replace(
        "</body>", " --></body>"), id="table-inside-comment"),
])
def test_malformed_page_falls_back_to_reference_parser(edit):
    page = edit(_two_row_page())
    assert _anchored_rows(page) is None
    assert parse_month_page(page) == _reference_rows(page)


def _drop_first_master_cell(page: str) -> str:
    """``page`` with the ``orgao`` cell of its first row removed."""
    return re.sub(r'(<td class="details-control"></td>)<td>[^<]*</td>',
                  r"\1", page, count=1)


def test_master_row_missing_a_cell_raises():
    # zipping 9 cells onto the 10 master columns would shift every value
    # after the gap one column left and pass the row on as a payment
    page = _drop_first_master_cell(_two_row_page())
    assert _anchored_rows(page) is None
    with pytest.raises(ValueError, match="master row with 9 cells"):
        parse_month_page(page)


def test_page_with_short_master_row_becomes_fetch_error(spark, tmp_path):
    base = write_fixtures(str(tmp_path), CIDADES, ANOS, MESES)
    bad = tmp_path / "aracaju_2024_2.html"
    bad.write_text(_drop_first_master_cell(bad.read_text(encoding="utf-8")),
                   encoding="utf-8")
    got = load(spark, CIDADES, ANOS, MESES, html_fetch(base)).toPandas()
    damaged = (got["cidade"] == "aracaju") & (got["mes"] == 2)
    assert damaged.sum() == 1
    assert got.loc[damaged, "fetch_error"].str.startswith("ValueError").all()
    assert got.loc[~damaged, "fetch_error"].isna().all()
    want = _expected()
    want = want[~((want["cidade"] == "aracaju") & (want["mes"] == 2))]
    key = ["cidade", "ano", "mes", "empenho", "processo"]
    pd.testing.assert_frame_equal(
        got[~damaged].sort_values(key).reset_index(drop=True)[want.columns],
        want.sort_values(key).reset_index(drop=True), check_dtype=False)
