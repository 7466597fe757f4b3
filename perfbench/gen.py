"""Seeded input generators for the benchmark.

Everything here is a pure function of its arguments: the same seed and
scale give the same bytes on disk, so a run can be repeated exactly and
two checkouts benchmark identical inputs.

* ``gen_tables`` writes the ten fixture tables the query catalog reads
  (TPC-H-like star schema, ``events``, ``documents``, ``embeddings``)
  with the column types, value domains and near-duplicate structure of
  the engine's reference fixtures.
* ``gen_curation_tier`` stacks seeded word-permuted replicas of a
  ``documents`` table (the replica scheme of
  ``scripts/gen_scale_tier.py``, with the seed as an argument).
* ``gen_envelopes`` writes JSON envelope endpoints in the shape the
  pipeline ingests, and returns the records each one must yield.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
PART_ADJ = ("small", "red", "blue", "green", "large", "steel", "brass", "tiny")
PART_NOUN = ("ring", "widget", "bolt", "anvil", "gear", "valve", "spring", "hinge")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("en", "de", "es", "fr", "zh")
LANG_P = (0.41, 0.14, 0.15, 0.15, 0.15)
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key "
    "line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()
#: share of documents that are a previous document plus " dup"
NEAR_DUP_RATE = 0.05
EMBED_DIM = 64

#: words of the envelope text field, including multi-byte UTF-8
ENVELOPE_WORDS = (
    "contrato", "licitação", "órgão", "município", "serviço", "obra",
    "saúde", "educação", "fornecedor", "pagamento", "São", "Paulo",
    "Brasília", "北京", "数据", "résumé", "naïve", "€", "alpha", "beta",
)


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path, compression="snappy")


def _ts_us(start: str, offsets_us: np.ndarray) -> pa.Array:
    base = np.datetime64(start, "us")
    return pa.array(base + offsets_us.astype("timedelta64[us]"), type=pa.timestamp("us"))


def _days(rng, n: int, start: str, n_days: int) -> pa.Array:
    return _ts_us(start, rng.integers(0, n_days, n) * 86_400_000_000)


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _documents(rng, n: int) -> pa.Table:
    vocab = np.array(VOCAB)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < NEAR_DUP_RATE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    return pa.table(
        {
            "doc_id": pa.array(np.arange(n), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(np.array(LANGS)[rng.choice(len(LANGS), n, p=LANG_P)], pa.string()),
            "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n)], pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def gen_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """Write the ten fixture tables at scale ``sf`` (lineitem ~6M*sf
    rows); return rows per table."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp = int(150_000 * sf), max(10, int(10_000 * sf))
    n_part, n_ord = int(200_000 * sf), int(1_500_000 * sf)
    n_line, n_ev = int(6_000_000 * sf), int(1_000_000 * sf)
    n_docs, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = int(15_000 * sf)
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": pa.array(range(5), pa.int32()), "r_name": pa.array(REGIONS)}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    tables["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)]),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
            "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
            "c_mktsegment": pa.array(np.array(SEGMENTS)[rng.integers(0, 5, n_cust)]),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)]),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
            "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
        }
    )
    adj, noun = np.array(PART_ADJ), np.array(PART_NOUN)
    tables["part"] = pa.table(
        {
            "p_partkey": pa.array(np.arange(n_part), pa.int64()),
            "p_name": pa.array(
                np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                            noun[rng.integers(0, 8, n_part)])
            ),
            "p_brand": pa.array([f"Brand#{k}" for k in rng.integers(1, 26, n_part)]),
            "p_type": pa.array(np.array(PART_TYPES)[rng.integers(0, 6, n_part)]),
            "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
            "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1000) / 10.0, 1),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)]),
            "o_totalprice": _money(rng, n_ord, 1000.0, 500_000.0),
            "o_orderdate": _days(rng, n_ord, "1995-01-01", 2404),
            "o_orderpriority": pa.array(np.array(PRIORITIES)[rng.integers(0, 5, n_ord)]),
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n_part, n_line), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_line).astype(np.float64),
            "l_extendedprice": _money(rng, n_line, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, n_line) / 100.0,
            "l_tax": rng.integers(0, 9, n_line) / 100.0,
            "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)]),
            "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_line)]),
            "l_shipdate": _days(rng, n_line, "1995-01-02", 2498),
        }
    )
    gaps_us = rng.exponential(30 * 86_400e6 / n_ev, n_ev).astype(np.int64) + 1
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts_us("2024-01-01", np.cumsum(gaps_us)),
            "user_id": pa.array(rng.integers(0, n_users, n_ev), pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)]),
            "value": np.maximum(np.round(rng.exponential(50.0, n_ev), 2), 0.01),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]),
        }
    )
    tables["documents"] = _documents(rng, n_docs)
    vecs = rng.normal(size=(n_emb, EMBED_DIM))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": pa.array(np.arange(n_emb), pa.int64()),
            "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
        }
    )
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        _write(table, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def gen_curation_tier(src_documents: str, out_dir: str, seed: int, replicas: int) -> int:
    """Stack ``replicas`` copies of a documents table with offset ids;
    every replica's words are permuted by an RNG seeded from (seed,
    replica, text), so exact duplicates stay duplicates within a replica
    while shingles differ across replicas. Returns the row count."""
    base = pq.read_table(src_documents)
    span = int(pc.max(base["doc_id"]).as_py()) + 1
    texts = base["text"].to_pylist()
    chunks = []
    for r in range(replicas):
        permuted = []
        for t in texts:
            h = int.from_bytes(hashlib.md5(f"{seed}|{r}|{t}".encode()).digest()[:8], "little")
            words = t.split(" ")
            order = np.random.default_rng(h).permutation(len(words))
            permuted.append(" ".join(words[i] for i in order))
        chunks.append(
            pa.table(
                {
                    "doc_id": pc.add(base["doc_id"], r * span),
                    "text": pa.array(permuted, pa.string()),
                    "lang": base["lang"],
                    "source": base["source"],
                    "n_chars": pa.array([len(t) for t in permuted], pa.int64()),
                }
            )
        )
    table = pa.concat_tables(chunks)
    os.makedirs(out_dir, exist_ok=True)
    _write(table, os.path.join(out_dir, "documents.parquet"))
    return table.num_rows


def _envelope_records(rng, first_id: int, n: int) -> tuple[list[dict], dict[int, str | None]]:
    """``n`` records and, per id, the text its codepoint array must
    decode to: 5% null arrays, 5% empty arrays, the rest UTF-8 bytes of
    one to five words."""
    kind = rng.random(n)
    n_words = rng.integers(1, 6, n)
    words = rng.integers(0, len(ENVELOPE_WORDS), (n, 5))
    valor = np.round(rng.uniform(0, 1e6, n), 2)
    sigla = rng.integers(0, 50, n)
    uf = rng.integers(0, 3, n)
    records, texts = [], {}
    for i in range(n):
        rid = first_id + i
        if kind[i] < 0.05:
            codes, text = None, None
        elif kind[i] < 0.10:
            codes, text = [], ""
        else:
            text = " ".join(ENVELOPE_WORDS[w] for w in words[i, : n_words[i]])
            codes = list(text.encode("utf-8"))
        records.append(
            {
                "id": rid,
                "nome": f"item-{rid}",
                "valor": float(valor[i]),
                "codigo": codes,
                "orgao": {"sigla": f"O{sigla[i]}", "uf": ("SP", "RJ", "DF")[uf[i]]},
            }
        )
        texts[rid] = text
    return records, texts


def gen_envelopes(out_dir: str, seed: int, n_endpoints: int, records: int) -> dict[str, dict[int, str | None]]:
    """Write ``n_endpoints`` envelope documents ``<key>.json`` of
    ``records`` records each; return key -> {id: expected decoded text}."""
    os.makedirs(out_dir, exist_ok=True)
    expected: dict[str, dict[int, str | None]] = {}
    for e in range(n_endpoints):
        key = f"ep{e:02d}"
        recs, texts = _envelope_records(np.random.default_rng([seed, e]), e * records, records)
        envelope = {
            "resultado": recs,
            "totalRegistros": records,
            "totalPaginas": 1,
            "paginasRestantes": 0,
            "links": ["self"],
            "dataHoraConsulta": "2026-01-01T00:00:00",
            "timeZoneAtual": "UTC",
            "dataHoraAtualizacao": "2026-01-01T00:00:00",
        }
        with open(os.path.join(out_dir, f"{key}.json"), "w", encoding="utf-8") as f:
            json.dump(envelope, f, ensure_ascii=False)
        expected[key] = texts
    return expected
