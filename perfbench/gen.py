"""Seeded inputs: a base ``lineitem``, its DMS-envelope change batches
and the gate corpus.

Everything here is numpy + pyarrow and depends only on the seed, so the
same seed lands identical change files.  The program under test sees
only the parquet files this module writes.

A change batch is drawn from the generator's own picture of which keys
are live.  Its make-up (counts per batch, fixed) is:

- ``upd``: updates of live keys;
- ``rep``: a second, later update of some of those keys in the same
  batch (precombine must keep the later one);
- ``stale``: an update plus a delete of the same key in the same batch,
  where the delete carries the *lower* ``trx_seq`` and sits later in the
  file (precombine must order by ``trx_seq``, not by arrival);
- ``dele``: deletes of live keys;
- ``reins``: re-inserts of keys deleted in an earlier batch;
- ``new``: inserts of keys never seen before.

Rows are shuffled inside a batch so file order never equals change order.
Updates never change the partition column, as DMS-to-Hudi pipelines with
a non-global index require.
"""

from __future__ import annotations

from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SEQ_WIDTH = 50
DAY_US = 86_400 * 1_000_000
EPOCH_1992_US = 694_224_000 * 1_000_000  # 1992-01-01T00:00:00Z


@dataclass(frozen=True)
class TableSpec:
    name: str
    key: tuple[str, ...]
    partition: str | None


LINEITEM = TableSpec("lineitem", ("l_orderkey", "l_linenumber"), "l_returnflag")


@dataclass(frozen=True)
class BatchMix:
    upd: int
    rep: int
    stale: int
    dele: int
    reins: int
    new: int

    @property
    def rows(self) -> int:
        return self.upd + self.rep + 2 * self.stale + self.dele + self.reins + self.new


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _lineitem_rows(rng: np.random.Generator, orderkeys: np.ndarray,
                   linenos: np.ndarray) -> dict[str, np.ndarray]:
    n = len(orderkeys)
    qty = rng.integers(1, 51, n).astype(np.float64)
    return {
        "l_orderkey": orderkeys.astype(np.int64),
        "l_partkey": rng.integers(0, 20_000, n).astype(np.int64),
        "l_suppkey": rng.integers(0, 1_000, n).astype(np.int64),
        "l_linenumber": linenos.astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * _money(rng, 900.0, 2_100.0, n), 2),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": EPOCH_1992_US + rng.integers(0, 2_500, n) * DAY_US,
    }


def _orders_rows(rng: np.random.Generator, orderkeys: np.ndarray) -> dict[str, np.ndarray]:
    n = len(orderkeys)
    return {
        "o_orderkey": orderkeys.astype(np.int64),
        "o_custkey": rng.integers(0, 15_000, n).astype(np.int64),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n)],
        "o_totalprice": _money(rng, 850.0, 500_000.0, n),
        "o_orderdate": EPOCH_1992_US + rng.integers(0, 2_400, n) * DAY_US,
        "o_orderpriority": np.array(
            ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
        )[rng.integers(0, 5, n)],
    }


def _perturb(rng: np.random.Generator, cols: dict[str, np.ndarray]) -> dict[str, np.ndarray]:
    """New values for the non-key, non-partition columns of an update."""
    out = dict(cols)
    n = len(cols["l_orderkey"])
    qty = rng.integers(1, 51, n).astype(np.float64)
    out["l_quantity"] = qty
    out["l_extendedprice"] = np.round(qty * _money(rng, 900.0, 2_100.0, n), 2)
    out["l_discount"] = rng.integers(0, 11, n) / 100.0
    out["l_linestatus"] = np.array(["F", "O"])[rng.integers(0, 2, n)]
    return out


SCHEMA = pa.schema([
    ("l_orderkey", pa.int64()), ("l_partkey", pa.int64()),
    ("l_suppkey", pa.int64()), ("l_linenumber", pa.int32()),
    ("l_quantity", pa.float64()), ("l_extendedprice", pa.float64()),
    ("l_discount", pa.float64()), ("l_tax", pa.float64()),
    ("l_returnflag", pa.string()), ("l_linestatus", pa.string()),
    ("l_shipdate", pa.timestamp("us", tz="UTC")),
    ("trx_seq", pa.string()), ("_hoodie_is_deleted", pa.bool_()),
])


class ChangeStream:
    """Base ``lineitem`` plus a seeded sequence of change batches.

    The stream keeps every key it has ever emitted in dense arrays (one
    slot per key) with a live flag, which is all it needs to pick keys
    for the next batch.  It is not an oracle: correctness is checked by
    replaying the landed files elsewhere.
    """

    def __init__(self, base_rows: int, mix: BatchMix, seed: int):
        self.mix = mix
        self.rng = np.random.default_rng(seed)
        self.seq = 0
        # ~4 lines per order, as in TPC-H; (orderkey, linenumber) unique
        lines = self.rng.integers(1, 8, base_rows // 3 + 1)
        okeys = np.repeat(np.arange(len(lines), dtype=np.int64), lines)[:base_rows]
        linenos = np.concatenate([np.arange(1, k + 1) for k in lines])[:base_rows]
        self.cols = _lineitem_rows(self.rng, okeys, linenos)
        self.next_orderkey = int(okeys[-1]) + 1
        self.live = np.ones(base_rows, dtype=bool)

    @property
    def n_keys(self) -> int:
        return len(self.live)

    def _seqs(self, n: int) -> np.ndarray:
        out = np.char.zfill(np.arange(self.seq + 1, self.seq + n + 1).astype(str), SEQ_WIDTH)
        self.seq += n
        return out

    def _take(self, idx: np.ndarray) -> dict[str, np.ndarray]:
        return {c: v[idx] for c, v in self.cols.items()}

    def _table(self, parts: list[tuple[dict[str, np.ndarray], np.ndarray, bool]]) -> pa.Table:
        """Concatenate (columns, trx_seq, deleted) parts, shuffle rows."""
        cols = {c: np.concatenate([p[0][c] for p in parts]) for c in self.cols}
        seq = np.concatenate([p[1] for p in parts])
        deleted = np.concatenate([np.full(len(p[1]), p[2]) for p in parts])
        order = self.rng.permutation(len(seq))
        arrays = [pa.array(cols[f.name][order], type=f.type) for f in SCHEMA
                  if f.name in cols]
        arrays += [pa.array(seq[order]), pa.array(deleted[order])]
        return pa.Table.from_arrays(arrays, schema=SCHEMA)

    def base_table(self) -> pa.Table:
        """Full load: every base row once."""
        seq = self._seqs(self.n_keys)
        return self._table([(self.cols, seq, False)])

    def _write_back(self, idx: np.ndarray, vals: dict[str, np.ndarray]) -> None:
        for c in self.cols:
            self.cols[c][idx] = vals[c]

    def next_batch(self) -> pa.Table:
        """Draw the next change batch and advance the live-key picture."""
        m, rng = self.mix, self.rng
        live = np.flatnonzero(self.live)
        dead = np.flatnonzero(~self.live)
        pick = rng.choice(live, m.upd + m.stale + m.dele, replace=False)
        upd = pick[: m.upd]
        stale = pick[m.upd: m.upd + m.stale]
        dele = pick[m.upd + m.stale:]
        reins = rng.choice(dead, min(m.reins, len(dead)), replace=False)
        parts = []

        # stale pairs: the delete takes the earlier sequence number
        stale_del_seq = self._seqs(len(stale))
        parts.append((self._take(stale), stale_del_seq, True))

        first = _perturb(rng, self._take(upd))
        parts.append((first, self._seqs(len(upd)), False))
        self._write_back(upd, first)
        rep = upd[: m.rep]
        second = _perturb(rng, self._take(rep))
        parts.append((second, self._seqs(len(rep)), False))
        self._write_back(rep, second)

        stale_upd = _perturb(rng, self._take(stale))
        parts.append((stale_upd, self._seqs(len(stale)), False))
        self._write_back(stale, stale_upd)

        parts.append((self._take(dele), self._seqs(len(dele)), True))
        self.live[dele] = False

        back = _perturb(rng, self._take(reins))
        parts.append((back, self._seqs(len(reins)), False))
        self._write_back(reins, back)
        self.live[reins] = True

        okeys = np.arange(self.next_orderkey, self.next_orderkey + m.new, dtype=np.int64)
        self.next_orderkey += m.new
        fresh = _lineitem_rows(rng, okeys, np.ones(m.new, dtype=np.int32))
        parts.append((fresh, self._seqs(m.new), False))
        for c in self.cols:
            self.cols[c] = np.concatenate([self.cols[c], fresh[c]])
        self.live = np.concatenate([self.live, np.ones(m.new, dtype=bool)])

        return self._table(parts)


def land(table: pa.Table, raw_root: Path, batch_no: int) -> Path:
    """Write one batch in the DMS landing layout the engine's source reads:
    ``<raw>/<identifier>/<schema>/<table>/<batch-dir>/part-0.parquet``."""
    out = raw_root / "tpch" / "public" / LINEITEM.name / f"batch-{batch_no:05d}"
    out.mkdir(parents=True, exist_ok=True)
    path = out / "part-0.parquet"
    pq.write_table(table, path)
    return path


# ---------------------------------------------------------------------------
# Gate corpus: the ten base tables ``__spark_entry__.queries()`` read, with
# the schemas of the repository's test corpora, drawn from the seed.
# ---------------------------------------------------------------------------

_WORDS = np.array(
    "a the big small fast slow data row column table key value scan filter "
    "join merge sort group agg order part line customer hash window batch "
    "stream spark query vector".split()
)
_ADJ = np.array("small red blue hot old new large cold".split())
_NOUN = np.array("ring widget bolt gear gizmo plate anvil nut".split())


def corpus_tables(seed: int) -> dict[str, pa.Table]:
    """Base tables at the size of the smallest test corpus (6k lineitem)."""
    rng = np.random.default_rng(seed)
    n_cust, n_supp, n_part = 150, 10, 200
    n_ord, n_ev, n_doc, n_emb = 1_500, 1_000, 500, 500
    ts = pa.timestamp("us")

    def t(cols: dict, types: dict | None = None) -> pa.Table:
        types = types or {}
        return pa.table({k: pa.array(v, type=types.get(k)) for k, v in cols.items()})

    region = t({"r_regionkey": np.arange(5, dtype=np.int32),
                "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    nation = t({"n_nationkey": np.arange(25, dtype=np.int32),
                "n_name": [f"NATION_{i}" for i in range(25)],
                "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    customer = t({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(rng, -999.0, 9_999.0, n_cust),
        "c_mktsegment": np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                  "HOUSEHOLD", "MACHINERY"])[rng.integers(0, 5, n_cust)],
    })
    supplier = t({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(rng, -999.0, 9_999.0, n_supp),
    })
    part = t({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": np.char.add(np.char.add(_ADJ[rng.integers(0, 8, n_part)], " "),
                              _NOUN[rng.integers(0, 8, n_part)]),
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n_part)],
        "p_type": np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
                            "STANDARD"])[rng.integers(0, 6, n_part)],
        "p_size": rng.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (np.arange(n_part) % 1_000) / 10.0, 2),
    })
    o = _orders_rows(rng, np.arange(n_ord, dtype=np.int64))
    o["o_custkey"] = rng.integers(0, n_cust, n_ord).astype(np.int64)
    orders = t(o, {"o_orderdate": ts})
    lines = rng.integers(1, 8, n_ord)
    li = _lineitem_rows(rng, np.repeat(np.arange(n_ord, dtype=np.int64), lines),
                        np.concatenate([np.arange(1, k + 1) for k in lines]))
    li["l_partkey"] = rng.integers(0, n_part, len(li["l_partkey"])).astype(np.int64)
    li["l_suppkey"] = rng.integers(0, n_supp, len(li["l_suppkey"])).astype(np.int64)
    lineitem = t(li, {"l_shipdate": ts})
    ev_ts = 1_704_067_200 * 1_000_000 + np.sort(rng.integers(0, 30 * DAY_US, n_ev))
    events = t({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": ev_ts,
        "user_id": rng.integers(0, max(15, n_ev // 67), n_ev).astype(np.int64),
        "event_type": np.array(["click", "error", "purchase", "signup",
                                "view"])[rng.integers(0, 5, n_ev)],
        "value": np.round(rng.exponential(50.0, n_ev), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    }, {"ts": ts})
    n_words = rng.integers(10, 100, n_doc)
    texts = [" ".join(_WORDS[rng.integers(0, len(_WORDS), k)]) for k in n_words]
    for i in rng.choice(n_doc, n_doc // 20, replace=False):  # near-duplicates
        texts[i] = texts[(i + 1) % n_doc] + " dup"
    documents = t({
        "doc_id": np.arange(n_doc, dtype=np.int64),
        "text": texts,
        "lang": np.array(["de", "en", "en", "es", "fr", "zh"])[rng.integers(0, 6, n_doc)],
        "source": [f"src{i % 20}" for i in range(n_doc)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_emb)
    centers = rng.normal(0.0, 1.0, (10, 64))
    vec = centers[labels] + rng.normal(0.0, 0.7, (n_emb, 64))
    vec = (vec / np.linalg.norm(vec, axis=1, keepdims=True)).astype(np.float32)
    embeddings = t({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(vec),
        "label": labels.astype(np.int32),
    }, {"embedding": pa.list_(pa.float32())})
    return {
        "region": region, "nation": nation, "customer": customer,
        "supplier": supplier, "part": part, "orders": orders,
        "lineitem": lineitem, "events": events, "documents": documents,
        "embeddings": embeddings,
    }


def write_corpus(out: Path, seed: int) -> Path:
    out.mkdir(parents=True, exist_ok=True)
    for name, table in corpus_tables(seed).items():
        pq.write_table(table, out / f"{name}.parquet")
    return out
