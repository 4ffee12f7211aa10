"""Real HTML parsing through the fetch seam (round-3 VERDICT item 6).

The sandbox has no browser or network, so the live Selenium walk
(reference ``aracaju_barra_pirambu_scraper.py:150-250``) cannot run —
but its PARSING semantics can: the portal renders a DataTables table
(``#dataTables-Pagamentos``) whose master rows carry 10 payment cells
after a details-control cell, each followed by a hidden detail ``<tr>``
holding a nested ``<th>label:</th><td>value</td>`` table (labels like
"Fonte de Recurso:" are normalized to snake_case column names,
reference :183-189). This module renders reference-shaped month pages
to disk, serves them over ``file://`` and parses them in one pass of an
anchored regex over the portal's row pairs; a page whose markup fails
that pass's structural self-check is parsed by ``MonthPageParser``, a
walk over stdlib ``html.parser`` events and the reference the fast pass
is tested against. It is the SAME ``fetch_fn`` seam the synthetic
generator and a production HTTP fetcher use, so the whole pipeline
(fan-out, retry, royalty filter, partitioned write) runs on real markup
at zero dependency cost.
"""

from __future__ import annotations

import functools
import html
import os
import re
from html.parser import HTMLParser
from urllib.request import urlopen

import pandas as pd

from etl_transparencia_sergipe_spark.functions.normalize import (
    normalize_colname,
)
from etl_transparencia_sergipe_spark.sources.scraper_source import (
    DETAIL_COLUMNS,
    MASTER_COLUMNS,
    synthetic_fetch,
)

# detail label as the portal renders it -> engine column
_DETAIL_LABELS = {
    "acao": "Ação",
    "funcao": "Função",
    "fonte_de_recurso": "Fonte de Recurso",
    "historico_pagamento": "Histórico Pagamento",
}


# ---------------------------------------------------------------------------
# fixture rendering
# ---------------------------------------------------------------------------


def render_month_page(rows: pd.DataFrame) -> str:
    """One month page shaped like the portal's DataTables markup: master
    row (details-control + 10 payment cells) + hidden detail row with the
    nested key/value table."""
    body = []
    for i, r in enumerate(rows.itertuples(index=False)):
        cells = "".join(
            f"<td>{html.escape(str(getattr(r, c)))}</td>"
            for c in MASTER_COLUMNS)
        parity = "odd" if i % 2 == 0 else "even"
        body.append(
            f'<tr role="row" class="{parity}">'
            f'<td class="details-control"></td>{cells}</tr>')
        details = "".join(
            f"<tr><th>{html.escape(_DETAIL_LABELS[c])}:</th>"
            f"<td>{html.escape(str(getattr(r, c)))}</td></tr>"
            for c in DETAIL_COLUMNS)
        body.append(
            '<tr class="detail-row"><td colspan="11">'
            '<div class="table-responsive"><table><tbody>'
            f"{details}</tbody></table></div></td></tr>")
    return (
        "<html><body>"
        '<table id="dataTables-Pagamentos"><tbody>'
        + "".join(body) +
        "</tbody></table></body></html>"
    )


def write_fixtures(root: str, cidades: list[str], anos: list[int],
                   meses: list[int]) -> str:
    """Write ``{root}/{cidade}_{ano}_{mes}.html`` month pages (rendered
    from the deterministic synthetic rows, so expected values are known)
    and return the ``file://`` base URL."""
    os.makedirs(root, exist_ok=True)
    for c in cidades:
        for a in anos:
            for m in meses:
                rows = synthetic_fetch(pd.DataFrame(
                    {"cidade": [c], "ano": [a], "mes": [m]}))
                page = render_month_page(rows)
                with open(os.path.join(root, f"{c}_{a}_{m}.html"),
                          "w", encoding="utf-8") as f:
                    f.write(page)
    return "file://" + os.path.abspath(root)


# ---------------------------------------------------------------------------
# reference parsing (stdlib html.parser — no bs4/lxml dependency)
# ---------------------------------------------------------------------------


class MonthPageParser(HTMLParser):
    """Extract (master cells, detail key/values) pairs from a month page.

    Mirrors the reference walk: master rows are ``tr[role=row]`` inside
    ``#dataTables-Pagamentos`` with the first cell a details-control;
    the FOLLOWING sibling row holds the detail table whose ``<th>`` text
    is normalized with ``normalize_colname`` (accent-fold + snake_case),
    exactly like aracaju_barra_pirambu_scraper.py:183-189. A master row
    with fewer than 10 cells raises ``ValueError``, as the reference's
    positional cell reads (:199-204) fail there: mapping its cells in
    order would shift every later value into the wrong column.
    """

    def __init__(self):
        super().__init__()
        self.rows: list[dict] = []
        self._in_target_table = False
        self._cur_master: list[str] | None = None
        self._cur_detail: dict | None = None
        self._in_detail_table = False
        self._cell: list[str] | None = None
        self._detail_key: str | None = None
        self._pending_key: list[str] | None = None

    def handle_starttag(self, tag, attrs):
        a = dict(attrs)
        if tag == "table" and a.get("id") == "dataTables-Pagamentos":
            self._in_target_table = True
        elif not self._in_target_table:
            return
        elif tag == "table":
            self._in_detail_table = True
            self._cell = None  # discard the wrapper <td> around the table
        elif tag == "tr" and a.get("role") == "row":
            self._flush()
            self._cur_master, self._cur_detail = [], {}
        elif tag == "td" and not self._in_detail_table:
            if self._cur_master is not None \
                    and "details-control" not in (a.get("class") or ""):
                self._cell = []
        elif self._in_detail_table and tag == "th":
            self._pending_key = []
        elif self._in_detail_table and tag == "td":
            self._cell = []

    def handle_endtag(self, tag):
        if not self._in_target_table:
            return
        if tag == "table" and self._in_detail_table:
            self._in_detail_table = False
        elif tag == "table":
            self._flush()
            self._in_target_table = False
        elif tag == "th" and self._pending_key is not None:
            label = "".join(self._pending_key).strip().rstrip(":")
            self._detail_key = normalize_colname(label)
            self._pending_key = None
        elif tag == "td" and self._cell is not None:
            text = "".join(self._cell).strip()
            self._cell = None
            if self._in_detail_table:
                if self._detail_key and self._cur_detail is not None:
                    self._cur_detail[self._detail_key] = text
                self._detail_key = None
            elif self._cur_master is not None:
                self._cur_master.append(text)

    def handle_data(self, data):
        if self._cell is not None:
            self._cell.append(data)
        elif self._pending_key is not None:
            self._pending_key.append(data)

    def _flush(self):
        if self._cur_master:
            if len(self._cur_master) < len(MASTER_COLUMNS):
                raise ValueError(
                    f"master row with {len(self._cur_master)} cells, "
                    f"expected {len(MASTER_COLUMNS)}")
            row = dict(zip(MASTER_COLUMNS, self._cur_master))
            row.update(self._cur_detail or {})
            self.rows.append(row)
        self._cur_master = self._cur_detail = None


# ---------------------------------------------------------------------------
# fast path: one anchored regex pass over the row pairs
# ---------------------------------------------------------------------------

_TABLE_ID = "dataTables-Pagamentos"
_TABLE_OPEN = f'<table id="{_TABLE_ID}"><tbody>'
_TABLE_CLOSE = "</tbody></table>"
_ROLE_ROW = 'role="row"'
# one master row (details-control + 10 cells) and its hidden detail row
# (4 label/value pairs), exactly as the portal renders them; a cell is
# text only, so any tag, comment or extra attribute fails the match
_ROW_PAIR = re.compile(
    f'<tr {_ROLE_ROW}(?: class="[^"<>]*")?><td class="details-control"></td>'
    + "<td>([^<]*)</td>" * len(MASTER_COLUMNS) + "</tr>"
    '<tr class="detail-row"><td colspan="11">'
    '<div class="table-responsive"><table><tbody>'
    + "<tr><th>([^<]*)</th><td>([^<]*)</td></tr>" * len(DETAIL_COLUMNS)
    + "</tbody></table></div></td></tr>")


@functools.lru_cache(maxsize=256)
def _row_keys(labels: tuple[str, ...]) -> tuple[str, ...] | None:
    """Column names of a row pair whose detail ``<th>`` texts are
    ``labels``, each label normalized as ``MonthPageParser`` does it;
    None unless that gives 14 distinct non-empty names (an empty or
    repeated key would drop or overwrite a value there)."""
    keys = tuple(MASTER_COLUMNS) + tuple(
        normalize_colname(html.unescape(s).strip().rstrip(":"))
        for s in labels)
    return keys if all(keys) and len(set(keys)) == len(keys) else None


def _starts_a_tag(page: str, pos: int) -> bool:
    """Whether ``html.parser``, fed ``page[:pos]``, stands between tokens
    at ``pos`` (not inside a comment, a script or an unclosed tag), so a
    start tag at ``pos`` is one ``MonthPageParser`` sees too."""
    p = HTMLParser()
    p.feed(page[:pos])
    return p.cdata_elem is None and "<" not in p.rawdata


def _anchored_rows(page: str) -> list[dict] | None:
    """The rows of ``page`` in one pass of ``_ROW_PAIR``, or None when
    the page fails the structural self-check:

    - the page names ``#dataTables-Pagamentos`` once, in a start tag
      that ``html.parser`` reads as one;
    - consecutive matches tile the table's ``<tbody>`` with no gap, and
      the last one ends at ``</tbody></table>``;
    - the matches are as many as the ``role="row"`` rows from the table's
      start to the end of the page;
    - every row has 10 master and 4 distinct detail keys.

    Cell text is ``html.unescape``d, then stripped: the order in which
    ``MonthPageParser`` sees it.
    """
    start = page.find(_TABLE_OPEN)
    if start < 0 or page.count(_TABLE_ID) != 1 \
            or not _starts_a_tag(page, start):
        return None
    unescape, n = html.unescape, len(MASTER_COLUMNS)
    rows = []
    pos = start + len(_TABLE_OPEN)
    while (m := _ROW_PAIR.match(page, pos)) is not None:
        g = m.groups()
        keys = _row_keys(g[n::2])
        if keys is None:
            return None
        rows.append(dict(zip(keys, [unescape(v).strip()
                                    for v in g[:n] + g[n + 1::2]])))
        pos = m.end()
    if not page.startswith(_TABLE_CLOSE, pos) \
            or page.count(_ROLE_ROW, start) != len(rows):
        return None
    return rows


def parse_month_page(page: str) -> list[dict]:
    """Payment rows of a month page: the anchored one-pass extractor when
    its self-check holds, else ``MonthPageParser``."""
    rows = _anchored_rows(page)
    if rows is not None:
        return rows
    p = MonthPageParser()
    p.feed(page)
    p._flush()
    return p.rows


# ---------------------------------------------------------------------------
# fetch_fn seam
# ---------------------------------------------------------------------------


def html_fetch(base_url: str):
    """A ``fetch_fn`` (tasks frame -> rows frame) that fetches
    ``{base_url}/{cidade}_{ano}_{mes}.html`` and parses the markup.
    Plugs into the portal data source unchanged; URL or parse
    errors raise, feeding the bounded-retry + error-row path (D3/D4).
    """

    def fetch(tasks: pd.DataFrame) -> pd.DataFrame:
        out = []
        for t in tasks.itertuples(index=False):
            url = f"{base_url}/{t.cidade}_{t.ano}_{t.mes}.html"
            with urlopen(url) as resp:  # noqa: S310 — file:// fixtures
                page = resp.read().decode("utf-8")
            for row in parse_month_page(page):
                row.update({"cidade": t.cidade, "ano": int(t.ano),
                            "mes": int(t.mes), "fetch_error": None})
                out.append(row)
        cols = (["cidade", "ano", "mes"] + MASTER_COLUMNS
                + DETAIL_COLUMNS + ["fetch_error"])
        return pd.DataFrame(out, columns=cols)

    return fetch
