"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its arguments: the same seed gives
byte-identical inputs. The engine under test only ever sees the files and
DataFrames built from these outputs.

- :func:`write_star_schema` — the ten catalog tables (TPC-H-ish star
  schema plus ``events``, ``documents`` and ``embeddings``) with the
  shapes and value domains of the repository's parquet test tables.
- :class:`CdcStream` — Debezium-style change envelopes in the
  ``jobs.ORDER_PAYLOAD`` shape, Zipf-skewed keys, the insert / update /
  delete mix of ``streaming/generator.py``, a few planted corrupt
  envelopes, and the last-write-wins state they imply.
- :func:`lake_bootstrap` / :class:`LakeChanges` — the ``lake_mixed``
  order-grain table and the small CDC batches merged into it.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

STATUSES = ("created", "approved", "shipped", "delivered")
WORDS = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the value "
    "vector window"
).split()


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent deterministic stream per (seed, purpose)."""
    return np.random.default_rng([seed, *stream.encode()])


# -- star schema --------------------------------------------------------------

def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _days(rng, start: str, end: str, n: int) -> np.ndarray:
    lo, hi = np.datetime64(start, "D"), np.datetime64(end, "D")
    days = rng.integers(0, (hi - lo).astype(int) + 1, n)
    return (lo + days).astype("datetime64[us]")


def _pick(rng, values, n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def star_schema(seed: int, sf: float) -> dict[str, pa.Table]:
    """The ten catalog tables at scale factor ``sf`` (row counts follow the
    repository's test tables: 6M lineitems per unit of sf)."""
    r = lambda name: _rng(seed, name)  # noqa: E731
    n_cust, n_supp, n_part = int(150_000 * sf), max(10, int(10_000 * sf)), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = max(500, int(50_000 * sf)), max(500, int(20_000 * sf))
    n_users = max(10, int(15_000 * sf))
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    g = r("customer")
    tables["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": g.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _money(g, -999.99, 9999.99, n_cust),
        "c_mktsegment": _pick(g, ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    g = r("supplier")
    tables["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": g.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _money(g, -999.99, 9999.99, n_supp),
    })
    g = r("part")
    adj = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
    noun = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
    keys = np.arange(n_part, dtype=np.int64)
    tables["part"] = pa.table({
        "p_partkey": keys,
        "p_name": pa.array(np.char.add(np.char.add(np.array(adj)[g.integers(0, 8, n_part)], " "),
                                       np.array(noun)[g.integers(0, 8, n_part)]).astype(object)),
        "p_brand": pa.array(np.char.add("Brand#", g.integers(1, 26, n_part).astype(str)).astype(object)),
        "p_type": _pick(g, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], n_part),
        "p_size": g.integers(1, 51, n_part).astype(np.int32),
        "p_retailprice": np.round(900.0 + (keys % 1000) / 10.0, 1),
    })
    g = r("orders")
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": g.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": _pick(g, ["F", "O", "P"], n_ord),
        "o_totalprice": _money(g, 1000.0, 500000.0, n_ord),
        "o_orderdate": _days(g, "1995-01-01", "2001-08-01", n_ord),
        "o_orderpriority": _pick(g, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    g = r("lineitem")
    tables["lineitem"] = pa.table({
        "l_orderkey": g.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": g.integers(0, n_part, n_li).astype(np.int64),
        "l_suppkey": g.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": g.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": g.integers(1, 51, n_li).astype(np.float64),
        "l_extendedprice": _money(g, 900.0, 105000.0, n_li),
        "l_discount": g.integers(0, 11, n_li) / 100.0,
        "l_tax": g.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _pick(g, ["A", "N", "R"], n_li),
        "l_linestatus": _pick(g, ["F", "O"], n_li),
        "l_shipdate": _days(g, "1995-01-02", "2001-11-04", n_li),
    })
    g = r("events")
    start = np.datetime64("2024-01-01T00:00:00", "us")
    offsets = np.sort(g.integers(0, 30 * 86_400_000_000, n_ev))
    tables["events"] = pa.table({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": start + offsets.astype("timedelta64[us]"),
        "user_id": g.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": _pick(g, ["click", "error", "purchase", "signup", "view"], n_ev),
        "value": np.round(g.exponential(50.0, n_ev), 2),
        "props": pa.array([f'{{"k": {k}}}' for k in g.integers(0, 100, n_ev)]),
    })
    tables["documents"] = _documents(r("documents"), n_doc)
    tables["embeddings"] = _embeddings(r("embeddings"), n_emb)
    return tables


def _documents(g: np.random.Generator, n: int) -> pa.Table:
    """Bag-of-words texts over a 30-word vocabulary; ~5% are near
    duplicates (another document's text plus ``dup``) and ~0.2% exact
    duplicates, so the dedup jobs have something to find."""
    texts = [" ".join(np.array(WORDS)[g.integers(0, len(WORDS), int(k))]) for k in g.integers(10, 96, n)]
    kind = g.random(n)
    src = g.integers(0, n, n)
    for i in range(n):
        if kind[i] < 0.05:
            texts[i] = texts[src[i]] + " dup"
        elif kind[i] < 0.052:
            texts[i] = texts[src[i]]
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _pick(g, ["de", "en", "es", "fr", "zh"], n, p=[0.15, 0.4, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _embeddings(g: np.random.Generator, n: int, dim: int = 64, k: int = 10) -> pa.Table:
    centroids = g.normal(0, 1, (k, dim))
    label = g.integers(0, k, n)
    vecs = centroids[label] + g.normal(0, 0.6, (n, dim))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": np.arange(n, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": label.astype(np.int32),
    })


def write_star_schema(seed: int, sf: float, out_dir: str) -> dict[str, int]:
    """Write the tables as ``{out_dir}/{name}.parquet``; returns row counts."""
    os.makedirs(out_dir, exist_ok=True)
    counts = {}
    for name, table in star_schema(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        counts[name] = table.num_rows
    return counts


# -- CDC envelopes --------------------------------------------------------------

@dataclass
class CdcStream:
    """Debezium envelopes for ``order_id``-keyed orders, batch by batch.

    Keys are Zipf-skewed over ``n_keys`` (1000, the key space of
    ``streaming/generator.py``); ops follow that generator's mix
    (``UPDATE_PCT`` / ``DELETE_PCT``). Every envelope gets a unique,
    increasing ``source_ts_ms`` so last-write-wins is unambiguous. A
    planted fraction ``corrupt_frac`` of lines are malformed JSON that the
    silver parse must quarantine.

    Two values are assumptions, not taken from any source: the skew
    ``zipf_a`` = 1.2 (a few hot orders take most changes, as orders moving
    through their lifecycle do) and 1% corrupt envelopes (a few per
    second at the benchmark's rate)."""

    seed: int
    update_pct: int
    delete_pct: int
    n_keys: int = 1000
    zipf_a: float = 1.2
    corrupt_frac: float = 0.01
    ts0_ms: int = 1_700_000_000_000
    state: dict[str, tuple[str, float]] = field(default_factory=dict)
    n_events: int = 0
    n_corrupt: int = 0

    def batch(self, index: int, size: int) -> list[str]:
        """The ``index``-th batch as envelope JSON strings. Batches must be
        drawn in order: the expected state is folded as they are made."""
        g = _rng(self.seed, f"cdc-{index}")
        keys = (g.zipf(self.zipf_a, size) - 1) % self.n_keys
        bucket = g.integers(0, 100, size)
        status = g.integers(0, len(STATUSES), size)
        cents = g.integers(0, 100_000, size)
        corrupt = g.random(size) < self.corrupt_frac
        lines = []
        for i in range(size):
            self.n_events += 1
            ts = self.ts0_ms + self.n_events
            if corrupt[i]:
                self.n_corrupt += 1
                lines.append('{"before": null, "after": {"order_id": "o%d", "amount": ' % keys[i])
                continue
            key = f"o{keys[i]}"
            image = {"order_id": key, "order_status": STATUSES[status[i]], "amount": cents[i] / 100.0}
            if bucket[i] < self.delete_pct:
                env = {"before": image, "after": None, "op": "d", "source_ts_ms": ts}
                self.state.pop(key, None)
            else:
                op = "u" if bucket[i] < self.delete_pct + self.update_pct else "c"
                env = {"before": None, "after": image, "op": op, "source_ts_ms": ts}
                self.state[key] = (image["order_status"], image["amount"])
            lines.append(json.dumps(env))
        return lines



def gold_of(state: dict[str, tuple[str, float]]) -> dict[str, tuple[int, float]]:
    """Expected ``status_summary`` of an order state: status ->
    (n_orders, revenue)."""
    out: dict[str, tuple[int, float]] = {}
    for status, amount in state.values():
        n, rev = out.get(status, (0, 0.0))
        out[status] = (n + 1, rev + amount)
    return out


def write_jsonl(lines: list[str], path: str) -> int:
    """Land envelopes as a file-stream JSON file (one ``{"value": ...}``
    object per line), atomically: readers never see a partial file."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        for line in lines:
            f.write(json.dumps({"value": line}) + "\n")
    os.rename(tmp, path)
    return os.path.getsize(path)


# -- lake_mixed table -------------------------------------------------------------

LAKE_T0 = np.datetime64("2024-01-01T00:00:00", "us")


def lake_bootstrap(seed: int, n_rows: int) -> pa.Table:
    """Order-grain table keyed by a dense ``order_id``."""
    g = _rng(seed, "lake-bootstrap")
    return pa.table({
        "order_id": np.arange(n_rows, dtype=np.int64),
        "customer_id": g.integers(0, max(1, n_rows // 10), n_rows).astype(np.int64),
        "order_status": _pick(g, STATUSES, n_rows),
        "amount": _money(g, 1.0, 1000.0, n_rows),
        "_event_ts": LAKE_T0 + np.arange(n_rows).astype("timedelta64[ms]"),
    })


@dataclass
class LakeChanges:
    """Small seeded CDC batches against the bootstrap table. Updates and
    deletes favour recent orders (the tail of the key space, where order
    lifecycles are still moving); inserts extend the key space. Each batch
    holds each key at most once, with a ``_deleted`` flag."""

    seed: int
    n_rows: int
    batch_size: int = 200
    recent: int = 20_000
    next_key: int = 0
    n_batches: int = 0

    def __post_init__(self):
        self.next_key = self.n_rows

    def batch(self) -> pa.Table:
        g = _rng(self.seed, f"lake-batch-{self.n_batches}")
        n = self.batch_size
        kind = g.integers(0, 100, n)
        lo = max(0, self.next_key - self.recent)
        keys = g.integers(lo, self.next_key, n)
        inserts = kind >= 70
        keys[inserts] = self.next_key + np.arange(int(inserts.sum()))
        self.next_key += int(inserts.sum())
        keys, first = np.unique(keys, return_index=True)
        deleted = kind[first] < 10
        step = self.n_rows + 1_000_000 * (self.n_batches + 1)
        self.n_batches += 1
        return pa.table({
            "order_id": keys.astype(np.int64),
            "customer_id": (keys // 10).astype(np.int64),
            "order_status": _pick(g, STATUSES, len(keys)),
            "amount": _money(g, 1.0, 1000.0, len(keys)),
            "_event_ts": LAKE_T0 + (step + np.arange(len(keys))).astype("timedelta64[ms]"),
            "_deleted": deleted,
        })
