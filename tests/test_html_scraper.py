"""Real HTML parsing through the fetch seam (sources/html_scraper.py):
reference-shaped DataTables month pages served over file://, parsed with
stdlib html.parser, run end-to-end through the DSv2 portal source, bound
to ``html_fetch`` or pointed at the pages by option, with the royalty
term filter."""

from __future__ import annotations

import pandas as pd
import pytest
from pyspark.sql import functions as F

from etl_transparencia_sergipe_spark.functions.normalize import term_filter
from etl_transparencia_sergipe_spark.sources.html_scraper import (
    html_fetch,
    parse_month_page,
    render_month_page,
    write_fixtures,
)
from etl_transparencia_sergipe_spark.sources.portal_datasource import load
from etl_transparencia_sergipe_spark.sources.scraper_source import (
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
    import re
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
