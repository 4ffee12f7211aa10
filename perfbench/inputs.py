"""Seeded input generators for the benchmark's workloads and probes.

Every generator takes a ``numpy.random.Generator`` built from the run's
``--seed`` and returns the ground truth the output checks need plus a
``size`` dict recording what it produced. Same seed, same bytes.

- :func:`portal_pages`: transparency-portal month pages (royalty_backfill),
  rendered with the program's own ``render_month_page``.
- :func:`star_schema`: the ten catalog tables (analyst_mix), shaped like
  the repository's sf test data: same columns, types and value domains.
- :func:`corpus_files`: a documents-shaped corpus split into files, with
  planted near-duplicates, some of them in later files (the streaming
  ingest probe of analyst_mix's traced run).
"""

from __future__ import annotations

import os
import unicodedata
from datetime import datetime
from decimal import Decimal

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# --------------------------------------------------------------------------
# portal month pages
# --------------------------------------------------------------------------

CIDADES = ["aracaju", "barra_dos_coqueiros", "pirambu", "pacatuba",
           "japaratuba", "carmopolis", "rosario_do_catete", "siriri"]

# Funding sources as the portal prints them: royalty codes and words mixed
# with non-royalty sources, in accent, case and punctuation variants.
FONTES = [
    "17200000 - Transferências da União Referentes a Royalties",
    "15300000 - ROYALTIES DO PETRÓLEO",
    "Royalties; petróleo (participação especial)",
    "15400000 - Compensação Financeira - Royalty",
    "17050000 - Cota-parte Royalties - Lei 9.478/97",
    "17210000 - Fundo Especial do Petróleo (FEP)",
    "0120000 - Recursos de Royalties Municipais",
    "Petroleo e Gas - PARTICIPACAO",
    "Recursos não vinculados de Impostos",
    "Educação básica - FUNDEB",
    "15001002 - Recursos Ordinários",
    "16000000 - Transferências do SUS",
    "Contribuição de Iluminação Pública - COSIP",
    "Convênios com o Estado de Sergipe",
    "17590000 - Outras Transferências da União",
    "Taxa de Coleta de Lixo - Arrecadação Própria",
]

_TERMS = ("royalty", "royalties", "petroleo", "15300000", "15400000",
          "17050000", "17200000", "17210000", "0120000")


def _normalizar(s: str) -> str:
    """The reference scraper's ``normalizar``: NFKD accent fold, drop
    punctuation, lowercase. Written here from the paper's definition,
    independent of the program's Spark expression."""
    folded = unicodedata.normalize("NFKD", s)
    kept = "".join(c for c in folded
                   if c.isascii() and (c.isalnum() or c.isspace()))
    return kept.lower()


IS_ROYALTY = [any(t in _normalizar(f) for t in _TERMS) for f in FONTES]

_CREDORES = ["CONSTRUTORA SÃO JOSÉ LTDA", "AÇÃO SOCIAL E SAÚDE ME",
             "PETRÓLEO & SERVIÇOS S.A.", "JOÃO GONÇALVES EIRELI",
             "CLÍNICA SÃO LUCAS", "TRANSPORTES ARACAJUENSE LTDA",
             "FÁBRICA DE MÓVEIS ITABAIANA", "INFORMÁTICA NORDESTE ME"]
_ORGAOS = ["SECRETARIA MUNICIPAL DA FAZENDA", "SECRETARIA DE EDUCAÇÃO",
           "SECRETARIA DE SAÚDE", "SECRETARIA DE OBRAS E INFRAESTRUTURA",
           "GABINETE DO PREFEITO"]
_FUNCOES = ["Administração", "Educação", "Saúde", "Urbanismo",
            "Saneamento", "Gestão Ambiental", "Energia", "Transporte"]


def _money(cents: int) -> str:
    return f"R$ {cents // 100:,}".replace(",", ".") + f",{cents % 100:02d}"


def portal_pages(root: str, rng: np.random.Generator, n_cidades: int,
                 anos: list[int], rows_per_page: int) -> dict:
    """Render one month page of ``rows_per_page`` payments per (cidade,
    ano, mes) under ``root``.

    A backfill job covers one (cidade, ano): its twelve month pages.
    Returns ``{"base_url", "jobs": [(cidade, ano)], "truth": {job:
    (royalty_rows, Decimal pago_sum)}, "rows"/"bytes": {job: payment rows
    / page bytes}, "size": {...}}``.
    """
    from etl_transparencia_sergipe_spark.sources.html_scraper import (
        render_month_page,
    )

    os.makedirs(root, exist_ok=True)
    cidades = sorted(rng.choice(CIDADES, size=n_cidades, replace=False))
    truth: dict[tuple, tuple[int, Decimal]] = {}
    job_rows: dict[tuple, int] = {}
    job_bytes: dict[tuple, int] = {}
    for c in cidades:
        for a in anos:
            for m in range(1, 13):
                job = (c, a)
                n = rows_per_page
                fonte = rng.integers(0, len(FONTES), n)
                cents = rng.integers(1, 10**8, n)
                retido = rng.integers(0, 10**5, n)
                day = rng.integers(1, 29, n)
                who = rng.integers(0, len(_CREDORES), n)
                org = rng.integers(0, len(_ORGAOS), n)
                emp = rng.integers(100000, 999999, n)
                df = pd.DataFrame({
                    "orgao": [f"{10 + o} - {_ORGAOS[o]}" for o in org],
                    "unidade": [f"{10 + o}101 - {_ORGAOS[o]}" for o in org],
                    "data": [f"{d:02d}/{m:02d}/{a}" for d in day],
                    "empenho": emp.astype(str),
                    "processo": (emp + 100000).astype(str),
                    "credor": [_CREDORES[w] for w in who],
                    "cpf_cnpj": [f"{w:02d}.394.460/0092-{d:02d}"
                                 for w, d in zip(who, day)],
                    "pago": [_money(int(x)) for x in cents],
                    "retido": [_money(int(x)) for x in retido],
                    "anulacao": "R$ 0,00",
                    "acao": [f"20{o:02d} - Ação {o}" for o in org],
                    "funcao": [f"{w:02d} - {_FUNCOES[w]}" for w in who],
                    "fonte_de_recurso": [FONTES[f] for f in fonte],
                    "historico_pagamento": [
                        f"Pagamento ref. empenho {e} – mês {m:02d}/{a}"
                        for e in emp],
                })
                page = render_month_page(df).encode("utf-8")
                with open(os.path.join(root, f"{c}_{a}_{m}.html"), "wb") as f:
                    f.write(page)
                roy = np.array([IS_ROYALTY[f] for f in fonte])
                n_roy, total = truth.get(job, (0, Decimal(0)))
                truth[job] = (n_roy + int(roy.sum()),
                              total + Decimal(int(cents[roy].sum())) / 100)
                job_rows[job] = job_rows.get(job, 0) + n
                job_bytes[job] = job_bytes.get(job, 0) + len(page)
    return {
        "base_url": "file://" + os.path.abspath(root),
        "jobs": list(truth),
        "truth": truth, "rows": job_rows, "bytes": job_bytes,
        "size": {"pages": 12 * len(truth), "rows": sum(job_rows.values()),
                 "bytes": sum(job_bytes.values())},
    }


# --------------------------------------------------------------------------
# star schema (the catalog's ten tables)
# --------------------------------------------------------------------------

_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_ADJ = ["small", "red", "blue", "hot", "cold", "large", "old", "new"]
_NOUN = ["ring", "widget", "bolt", "anvil", "rod", "plate", "gear", "gizmo"]
_PTYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_PRIOS = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENTS = ["click", "error", "purchase", "signup", "view"]
VOCAB = ["a", "agg", "batch", "big", "column", "customer", "data", "fast",
         "filter", "group", "hash", "join", "key", "line", "merge", "order",
         "part", "query", "row", "scan", "slow", "small", "sort", "spark",
         "stream", "table", "the", "value", "vector", "window"]
_LANGS = ["en", "en", "de", "es", "fr", "zh"]


def _ts(start: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(datetime.fromisoformat(start), "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"),
                    pa.timestamp("us"))


def _write(out_dir: str, name: str, cols: dict) -> int:
    path = os.path.join(out_dir, f"{name}.parquet")
    pq.write_table(pa.table(cols), path)
    return os.path.getsize(path)


def _documents(rng: np.random.Generator, n: int,
               dup_frac: float = 0.05) -> tuple[list[str], np.ndarray]:
    """Random texts over VOCAB; a ``dup_frac`` share copies an EARLIER
    document and appends one token (a near-duplicate). Returns the texts
    and, per document, the index of its original (-1 if none)."""
    lens = rng.integers(10, 101, n)
    texts: list[str] = []
    orig = np.full(n, -1)
    for i in range(n):
        if i > 0 and rng.random() < dup_frac:
            j = int(rng.integers(0, i))
            orig[i] = j
            texts.append(texts[j] + " dup")
        else:
            texts.append(" ".join(VOCAB[t] for t in
                                  rng.integers(0, len(VOCAB), lens[i])))
    return texts, orig


def star_schema(out_dir: str, rng: np.random.Generator, sf: float) -> dict:
    """Write region .. embeddings parquet files for scale factor ``sf``
    (lineitem ~ 6M x sf rows). Returns ``{"size": {table: rows, "bytes"}}``."""
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = 4 * n_ord, int(1_000_000 * sf)
    n_users = max(10, int(15_000 * sf))
    n_docs, n_vec = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    size, nbytes = {}, 0

    def money(lo, hi, n):
        return np.round(rng.uniform(lo, hi, n), 2)

    tables = {
        "region": {"r_regionkey": pa.array(range(5), pa.int32()),
                   "r_name": _REGIONS},
        "nation": {"n_nationkey": pa.array(range(25), pa.int32()),
                   "n_name": [f"NATION_{i}" for i in range(25)],
                   "n_regionkey": pa.array([i % 5 for i in range(25)],
                                           pa.int32())},
        "customer": {
            "c_custkey": np.arange(n_cust, dtype=np.int64),
            "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
            "c_nationkey": rng.integers(0, 25, n_cust, dtype=np.int32),
            "c_acctbal": money(-999.99, 9999.99, n_cust),
            "c_mktsegment": rng.choice(_SEGMENTS, n_cust)},
        "supplier": {
            "s_suppkey": np.arange(n_supp, dtype=np.int64),
            "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
            "s_nationkey": rng.integers(0, 25, n_supp, dtype=np.int32),
            "s_acctbal": money(-999.99, 9999.99, n_supp)},
        "part": {
            "p_partkey": np.arange(n_part, dtype=np.int64),
            "p_name": [f"{_ADJ[a]} {_NOUN[b]}" for a, b in
                       rng.integers(0, 8, (n_part, 2))],
            "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
            "p_type": rng.choice(_PTYPES, n_part),
            "p_size": rng.integers(1, 51, n_part, dtype=np.int32),
            "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1,
                                      1)},
        "orders": {
            "o_orderkey": np.arange(n_ord, dtype=np.int64),
            "o_custkey": rng.integers(0, n_cust, n_ord, dtype=np.int64),
            "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
            "o_totalprice": money(1000, 500_000, n_ord),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 2404, n_ord)
                               * 86_400_000_000),
            "o_orderpriority": rng.choice(_PRIOS, n_ord)},
        "lineitem": {
            "l_orderkey": rng.integers(0, n_ord, n_line, dtype=np.int64),
            "l_partkey": rng.integers(0, n_part, n_line, dtype=np.int64),
            "l_suppkey": rng.integers(0, n_supp, n_line, dtype=np.int64),
            "l_linenumber": rng.integers(1, 8, n_line, dtype=np.int32),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": money(900, 105_000, n_line),
            "l_discount": rng.integers(0, 11, n_line) / 100,
            "l_tax": rng.integers(0, 9, n_line) / 100,
            "l_returnflag": rng.choice(["A", "N", "R"], n_line),
            "l_linestatus": rng.choice(["F", "O"], n_line),
            "l_shipdate": _ts("1995-01-02", rng.integers(0, 2498, n_line)
                              * 86_400_000_000)},
        "events": {
            "event_id": np.arange(n_ev, dtype=np.int64),
            "ts": _ts("2024-01-01", np.sort(rng.integers(
                0, 30 * 86_400_000_000, n_ev))),
            "user_id": rng.integers(0, n_users, n_ev, dtype=np.int64),
            "event_type": rng.choice(_EVENTS, n_ev),
            "value": np.round(rng.exponential(50.0, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]},
    }
    texts, _ = _documents(rng, n_docs)
    tables["documents"] = {
        "doc_id": np.arange(n_docs, dtype=np.int64), "text": texts,
        "lang": rng.choice(_LANGS, n_docs),
        "source": [f"src{s}" for s in rng.integers(0, 20, n_docs)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64)}
    labels = rng.integers(0, 10, n_vec)
    centers = rng.normal(0, 1, (10, 64))
    vecs = centers[labels] * 0.5 + rng.normal(0, 1, (n_vec, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(
        np.float32)
    tables["embeddings"] = {
        "vec_id": np.arange(n_vec, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": labels.astype(np.int32)}
    for name, cols in tables.items():
        nbytes += _write(out_dir, name, cols)
        size[name] = len(next(iter(cols.values())))
    size["bytes"] = nbytes
    return {"size": size}


# --------------------------------------------------------------------------
# streaming corpus
# --------------------------------------------------------------------------


def corpus_files(out_dir: str, rng: np.random.Generator, n_files: int,
                 docs_per_file: int, dup_frac: float) -> dict:
    """Split a seeded corpus into ``batch{i:03d}.parquet`` files, stamped
    so the file stream replays them in file order. Planted
    near-duplicates copy any earlier document, so many land in a later
    file than their original. Returns ``{"files", "size"}``."""
    os.makedirs(out_dir, exist_ok=True)
    n = n_files * docs_per_file
    texts, orig = _documents(rng, n, dup_frac=dup_frac)
    files = []
    for i in range(n_files):
        lo, hi = i * docs_per_file, (i + 1) * docs_per_file
        path = os.path.join(out_dir, f"batch{i:03d}.parquet")
        pq.write_table(pa.table({
            "doc_id": np.arange(lo, hi, dtype=np.int64),
            "text": texts[lo:hi],
            "lang": ["en"] * (hi - lo),
            "source": [f"src{i % 20}"] * (hi - lo),
            "n_chars": np.array([len(t) for t in texts[lo:hi]],
                                dtype=np.int64)}), path)
        # the file stream takes files oldest first; distinct mtimes keep
        # that order equal to the file order the reference assumes
        os.utime(path, (1_700_000_000 + i, 1_700_000_000 + i))
        files.append(path)
    cross = int(sum(1 for j, o in enumerate(orig)
                    if o >= 0 and o // docs_per_file < j // docs_per_file))
    return {"files": files,
            "size": {"documents": n, "planted_dups": int((orig >= 0).sum()),
                     "cross_file_dups": cross,
                     "bytes": sum(os.path.getsize(f) for f in files)}}
