"""Page fetchers for the portal source (SURVEY.md S1-S4, D1-D5).

The reference fans a (cidade, ano, mes) task grid across a thread pool of
Selenium browsers (aracaju_barra_pirambu_scraper.py:328-344) with bounded
retry + linear backoff (:97-147) and a two-pass failed-row retry
(:236-252). Here the grid is the partition plan of the
``transparencia_portal`` data source (``portal_datasource.py``), which owns
the retry and the ``fetch_error`` rows; this module holds the page-level
seam it calls: a ``fetch_fn`` maps a tasks frame (cidade, ano, mes) to
the rows frame of those pages, in the columns below.

There is no live HTTP in this environment, so the default fetcher is a
deterministic synthetic generator shaped like the reference's observed
output schema (FIXTURES.md F1); a real fetcher plugs in unchanged.
"""

from __future__ import annotations

import hashlib
from typing import TYPE_CHECKING

if TYPE_CHECKING:
    import pandas as pd

MASTER_COLUMNS = [
    "orgao", "unidade", "data", "empenho", "processo",
    "credor", "cpf_cnpj", "pago", "retido", "anulacao",
]
DETAIL_COLUMNS = ["acao", "funcao", "fonte_de_recurso", "historico_pagamento"]

# Mix of royalty-matching and non-matching funding sources, with accent/case
# variants (exercises P3+P4; codes from aracaju_barra_pirambu_scraper.py:36).
_FONTES = [
    "17200000 - Transferências da União Referentes a Royalties",
    "Recursos não vinculados de Impostos",
    "15300000 - ROYALTIES DO PETRÓLEO",
    "Educação básica - FUNDEB",
    "Royalties; petróleo (participação especial)",
    "15001002 - Recursos Ordinários",
]


def _det_int(*parts, mod: int) -> int:
    h = hashlib.md5("_".join(map(str, parts)).encode()).hexdigest()
    return int(h[:8], 16) % mod


def synthetic_fetch(tasks: pd.DataFrame) -> pd.DataFrame:
    """Deterministic fake of one month-page fetch (stands in for the
    Selenium page walk, aracaju_barra_pirambu_scraper.py:221-252)."""
    import pandas as pd

    rows = []
    for t in tasks.itertuples(index=False):
        n_rows = 5 + _det_int(t.cidade, t.ano, t.mes, mod=10)
        for i in range(n_rows):
            cents = _det_int(t.cidade, t.ano, t.mes, i, "v", mod=10**7)
            fonte = _FONTES[_det_int(t.cidade, t.ano, t.mes, i, mod=len(_FONTES))]
            row = {
                "cidade": t.cidade, "ano": int(t.ano), "mes": int(t.mes),
                "orgao": f"{10 + i % 5} - SECRETARIA {i % 5}",
                "unidade": f"{(10 + i % 5)}101 - UNIDADE {i % 5}",
                "data": f"{min(28, 1 + i):02d}/{t.mes:02d}/{t.ano}",
                "empenho": str(100000 + _det_int(t.cidade, t.ano, t.mes, i, "e", mod=90000)),
                "processo": str(200000 + i),
                "credor": f"FORNECEDOR {chr(65 + i % 26)} LTDA",
                "cpf_cnpj": f"{i % 100:02d}.394.460/0092-{i % 100:02d}",
                "pago": f"R$ {cents // 100:,}".replace(",", ".")
                + f",{cents % 100:02d}",
                "retido": "R$ 0,00",
                "anulacao": "R$ 0,00",
                "acao": f"20{i:02d} - Ação {i}",
                "funcao": f"{i % 10:02d} - Função {i % 10}",
                "fonte_de_recurso": fonte,
                "historico_pagamento": f"Pagamento ref. processo {200000 + i} mês {t.mes:02d}",
                "fetch_error": None,
            }
            rows.append(row)
    return pd.DataFrame(rows)
