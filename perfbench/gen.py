"""Seeded input generator for the benchmark, kept apart from the program.

Two kinds of input come out of one seed:

* warehouse tables — the TPC-H-shaped star schema the registry queries
  read (region, nation, customer, supplier, part, orders, lineitem),
  one parquet file each with a single row group, at scale factor
  ``sf`` (sf0.1: 150k orders, 600k lineitems);
* CDC envelope streams — JSON lines, one file per micro-batch, in
  Maxwell (``sync_bulk``) or Debezium (``sync_trickle``) form, built
  from the same orders/customer rows. Every stream mixes inserts,
  updates, deletes, primary-key-changing updates, repeated same-key
  changes inside a batch, and a small share of envelopes the parser
  must drop (non-DML, payload-less, unmapped tables).

While it writes the envelopes the generator applies each change to an
in-memory copy of the target tables, so it knows the exact synced
state after every batch prefix. It keeps that state as an
order-insensitive digest (row count plus the sum of per-row SHA-256
prefixes), which ``state_digest_expr`` recomputes on the Spark side.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import os
import random
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH = dt.date(1970, 1, 1)
ORDER_DAYS = (dt.date(1995, 1, 1), dt.date(2001, 8, 1))
SHIP_DAYS = (dt.date(1995, 1, 2), dt.date(2001, 11, 4))
STATUSES = ("O", "P", "F")
PRIORITIES = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
ADJ = ("blue", "old", "small", "new", "large", "hot", "cold", "red")
NOUN = ("widget", "gizmo", "bolt", "plate", "rod", "anvil", "ring", "gear")
PTYPES = ("LARGE", "ECONOMY", "STANDARD", "PROMO", "SMALL", "MEDIUM")

# Target tables of the sync workloads: column order is the sink's
# base_columns (key first), the DDL types the envelope payload schema.
TABLES = {
    "orders": (
        ("o_orderkey", "long"),
        ("o_custkey", "long"),
        ("o_orderstatus", "string"),
        ("o_totalprice", "decimal(12,2)"),
        ("o_orderdate", "date"),
        ("o_orderpriority", "string"),
    ),
    "customer": (
        ("c_custkey", "long"),
        ("c_name", "string"),
        ("c_nationkey", "integer"),
        ("c_acctbal", "decimal(12,2)"),
        ("c_mktsegment", "string"),
    ),
}


def _days(a: dt.date) -> int:
    return (a - EPOCH).days


def _ts_us(days: np.ndarray) -> pa.Array:
    return pa.array(days.astype("int64") * 86_400_000_000, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def make_tables(seed: int, out_dir: str, sf: float = 0.1) -> dict[str, int]:
    """Write the warehouse tables; returns table → row count."""
    rng = np.random.default_rng([seed, 7])
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord = int(1_500_000 * sf)
    n_li = 4 * n_ord
    i32, i64 = pa.int32(), pa.int64()
    nk = np.arange(25)
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": pa.array(nk, i32),
                "n_name": [f"NATION_{i}" for i in nk],
                "n_regionkey": pa.array(nk % 5, i32),
            }
        ),
        "customer": pa.table(
            {
                "c_custkey": pa.array(np.arange(n_cust), i64),
                "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
                "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
                "c_acctbal": _money(rng, n_cust, -999.99, 9999.99),
                "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, n_cust)],
            }
        ),
        "supplier": pa.table(
            {
                "s_suppkey": pa.array(np.arange(n_supp), i64),
                "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
                "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
                "s_acctbal": _money(rng, n_supp, -999.99, 9999.99),
            }
        ),
        "part": pa.table(
            {
                "p_partkey": pa.array(np.arange(n_part), i64),
                "p_name": [
                    f"{ADJ[a]} {NOUN[b]}"
                    for a, b in zip(rng.integers(0, 8, n_part), rng.integers(0, 8, n_part))
                ],
                "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
                "p_type": np.array(PTYPES)[rng.integers(0, 6, n_part)],
                "p_size": pa.array(rng.integers(1, 51, n_part), i32),
                "p_retailprice": 900.0 + (np.arange(n_part) % 1000) / 10.0,
            }
        ),
        "orders": pa.table(
            {
                "o_orderkey": pa.array(np.arange(n_ord), i64),
                "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
                "o_orderstatus": np.array(STATUSES)[rng.integers(0, 3, n_ord)],
                "o_totalprice": _money(rng, n_ord, 1000.0, 500000.0),
                "o_orderdate": _ts_us(
                    rng.integers(_days(ORDER_DAYS[0]), _days(ORDER_DAYS[1]) + 1, n_ord)
                ),
                "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, n_ord)],
            }
        ),
        "lineitem": pa.table(
            {
                "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
                "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
                "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
                "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
                "l_quantity": rng.integers(1, 51, n_li).astype("float64"),
                "l_extendedprice": _money(rng, n_li, 900.0, 105000.0),
                "l_discount": rng.integers(0, 11, n_li) / 100.0,
                "l_tax": rng.integers(0, 9, n_li) / 100.0,
                "l_returnflag": np.array(("A", "N", "R"))[rng.integers(0, 3, n_li)],
                "l_linestatus": np.array(("O", "F"))[rng.integers(0, 2, n_li)],
                "l_shipdate": _ts_us(
                    rng.integers(_days(SHIP_DAYS[0]), _days(SHIP_DAYS[1]) + 1, n_li)
                ),
            }
        ),
    }
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"), row_group_size=1 << 30)
    return {name: t.num_rows for name, t in tables.items()}


# ---------------------------------------------------------------- state rows
# A state row is a tuple of strings, each exactly as Spark's
# cast-to-string renders the sink column, so a row's digest is the
# same on both sides. Money is kept as integer cents.


def _cents_str(c: int) -> str:
    return f"{'-' if c < 0 else ''}{abs(c) // 100}.{abs(c) % 100:02d}"


def row_digest(row: tuple[str, ...]) -> int:
    return int(hashlib.sha256("|".join(row).encode()).hexdigest()[:15], 16)


def state_digest_expr(columns):
    """Spark aggregate expressions matching ``row_digest`` summed over
    a frame: ``(count, digest)``."""
    from pyspark.sql import functions as F

    h = F.conv(
        F.substring(F.sha2(F.concat_ws("|", *[F.col(c).cast("string") for c in columns]), 256), 1, 15),
        16,
        10,
    ).cast("decimal(20,0)")
    return F.count(F.lit(1)).alias("n"), F.sum(h).cast("decimal(38,0)").alias("digest")


def _initial_rows(tables_dir: str, table: str) -> dict[int, tuple[str, ...]]:
    t = pq.read_table(os.path.join(tables_dir, f"{table}.parquet")).to_pydict()
    if table == "orders":
        cols = zip(
            t["o_orderkey"], t["o_custkey"], t["o_orderstatus"], t["o_totalprice"],
            t["o_orderdate"], t["o_orderpriority"],
        )
        return {
            k: (str(k), str(c), s, _cents_str(round(p * 100)), d.date().isoformat(), pr)
            for k, c, s, p, d, pr in cols
        }
    cols = zip(t["c_custkey"], t["c_name"], t["c_nationkey"], t["c_acctbal"], t["c_mktsegment"])
    return {k: (str(k), n, str(nk), _cents_str(round(b * 100)), m) for k, n, nk, b, m in cols}


def _mutate(table: str, row: tuple[str, ...], rnd: random.Random, key: int | None = None):
    """A plausible UPDATE of ``row`` (new key when ``key`` is given)."""
    r = list(row)
    if key is not None:
        r[0] = str(key)
    if table == "orders":
        r[2] = rnd.choice(STATUSES)
        r[3] = _cents_str(rnd.randint(100_000, 50_000_000))
        r[5] = rnd.choice(PRIORITIES)
    else:
        r[3] = _cents_str(rnd.randint(-99_999, 999_999))
        r[4] = rnd.choice(SEGMENTS)
    return tuple(r)


def _fresh(table: str, key: int, rnd: random.Random) -> tuple[str, ...]:
    if table == "orders":
        day = EPOCH + dt.timedelta(days=rnd.randint(_days(ORDER_DAYS[0]), _days(ORDER_DAYS[1])))
        return (
            str(key), str(rnd.randrange(15_000)), rnd.choice(STATUSES),
            _cents_str(rnd.randint(100_000, 50_000_000)), day.isoformat(), rnd.choice(PRIORITIES),
        )
    return (
        str(key), f"Customer#{key:09d}", str(rnd.randrange(25)),
        _cents_str(rnd.randint(-99_999, 999_999)), rnd.choice(SEGMENTS),
    )


def _json_obj(table: str, row: tuple[str, ...] | None) -> str:
    if row is None:
        return "null"
    parts = []
    for (name, typ), v in zip(TABLES[table], row):
        if v is not None:
            quoted = typ in ("string", "date")
            parts.append(f'"{name}":"{v}"' if quoted else f'"{name}":{v}')
    return "{" + ",".join(parts) + "}"


# ---------------------------------------------------------------- streams


@dataclass
class Stream:
    """Envelope files of one stream plus what the sink must hold after
    each batch prefix. ``files[i]`` lists the file(s) of batch ``i``;
    ``expected[i][table] = (rows, digest)`` after batches ``0..i``;
    ``events[i]`` counts the change events of batch ``i`` (dropped
    envelopes excluded); ``lines[i]`` every envelope of it."""

    files: list[list[str]] = field(default_factory=list)
    lines: list[int] = field(default_factory=list)
    events: list[int] = field(default_factory=list)
    expected: list[dict[str, tuple[int, int]]] = field(default_factory=list)


class _Target:
    def __init__(self, table: str, rows: dict[int, tuple[str, ...]]) -> None:
        self.table = table
        self.rows = rows
        self.n = len(rows)
        self.digest = sum(row_digest(r) for r in rows.values())
        self.next_key = max(rows) + 1 if rows else 0

    def put(self, key: int, row: tuple[str, ...]) -> None:
        old = self.rows.get(key)
        if old is not None:
            self.digest -= row_digest(old)
        else:
            self.n += 1
        self.rows[key] = row
        self.digest += row_digest(row)

    def drop(self, key: int) -> None:
        self.digest -= row_digest(self.rows.pop(key))
        self.n -= 1


class _Writer:
    """Accumulates envelope lines; ``Maxwell`` or ``Debezium`` form."""

    def __init__(self, kind: str, db: str, t0_ms: int) -> None:
        self.kind, self.db, self.clock = kind, db, t0_ms
        self.out: list[str] = []
        self.events = 0

    def _tick(self) -> int:
        self.clock += 7
        return self.clock

    def change(self, table: str, op: str, before, after) -> None:
        self.events += 1
        ts = self._tick()
        if self.kind == "maxwell":
            typ = {"I": "insert", "U": "update", "D": "delete"}[op]
            data = after if op != "D" else before
            # Maxwell's `old` holds only the columns the update changed
            old = ""
            if op == "U":
                changed = tuple(b if b != a else None for b, a in zip(before, after))
                old = f',"old":{_json_obj(table, changed)}'
            self.out.append(
                f'{{"database":"{self.db}","table":"{table}","type":"{typ}","ts":{ts // 1000},'
                f'"xid":{ts},"commit":true,"data":{_json_obj(table, data)}{old}}}'
            )
        else:
            dop = {"I": "c", "U": "u", "D": "d"}[op]
            self.out.append(
                f'{{"payload":{{"op":"{dop}","ts_ms":{ts},"before":{_json_obj(table, before)},'
                f'"after":{_json_obj(table, after)},'
                f'"source":{{"db":"{self.db}","table":"{table}"}}}}}}'
            )

    def noise(self, rnd: random.Random) -> None:
        """One envelope that must not reach the sink."""
        ts = self._tick()
        if self.kind == "maxwell":
            self.out.append(
                rnd.choice(
                    (
                        f'{{"database":"{self.db}","table":"orders","type":"bootstrap-start",'
                        f'"ts":{ts // 1000},"data":{{}}}}',
                        f'{{"database":"{self.db}","table":"audit_log","type":"insert",'
                        f'"ts":{ts // 1000},"data":{{"id":{ts}}}}}',
                        f'{{"database":"{self.db}","table":"orders","type":"table-alter",'
                        f'"ts":{ts // 1000}}}',
                    )
                )
            )
        else:
            self.out.append(
                rnd.choice(
                    (
                        '{"schema":null,"payload":null}',
                        f'{{"payload":{{"op":"m","ts_ms":{ts},"before":null,"after":null}}}}',
                    )
                )
            )


def _snapshot(state: dict[str, _Target]):
    return {t: (s.n, s.digest) for t, s in state.items()}


def _change(w: _Writer, st: _Target, key: int, rnd: random.Random) -> None:
    """One change event for ``key``: insert when absent, otherwise an
    update (10% of them PK-changing) or a delete."""
    rows = st.rows
    if key not in rows:
        row = _fresh(st.table, key, rnd)
        w.change(st.table, "I", None, row)
        st.put(key, row)
        return
    before = rows[key]
    u = rnd.random()
    if u < 0.75:
        after = _mutate(st.table, before, rnd)
        w.change(st.table, "U", before, after)
        st.put(key, after)
    elif u < 0.85:
        new_key = st.next_key
        st.next_key += 1
        after = _mutate(st.table, before, rnd, key=new_key)
        if w.kind == "maxwell":
            w.change(st.table, "U", before, after)
        else:  # Debezium emits a PK change as delete + create
            w.change(st.table, "D", before, None)
            w.change(st.table, "I", None, after)
        st.drop(key)
        st.put(new_key, after)
    else:
        w.change(st.table, "D", before, None)
        st.drop(key)


def snapshot(
    kind: str, tables: list[str], tables_dir: str, out_dir: str, parts: int
) -> tuple[Stream, dict[str, _Target]]:
    """One batch that inserts every row of ``tables`` (Debezium: op
    ``r``), split into ``parts`` files; returns the stream and the
    generator state it leaves, for ``changes`` to continue from."""
    state = {t: _Target(t, {}) for t in tables}
    w = _Writer(kind, "shop", 1_600_000_000_000)
    for t in tables:
        for k, row in _initial_rows(tables_dir, t).items():
            w.change(t, "I", None, row)
            state[t].put(k, row)
        state[t].next_key = max(state[t].rows) + 1
    if kind == "debezium":
        w.out = [line.replace('"op":"c"', '"op":"r"', 1) for line in w.out]
    s = Stream()
    _close_batch(s, w, out_dir, state, parts)
    return s, state


def changes(
    kind: str,
    seed: int,
    state: dict[str, _Target],
    out_dir: str,
    n_batches: int,
    batch_events: int,
    zipf: float | None = None,
) -> Stream:
    """``n_batches`` one-file batches of I/U/D changes against
    ``state``. Keys are drawn uniformly over every table (90% orders),
    with 10% of draws re-touching a key already changed in the batch;
    or, with ``zipf``, from a Zipf law over a seeded permutation of
    the orders key space, so a few hot keys take most changes."""
    s = Stream()
    w = _Writer(kind, "shop", 1_700_000_000_000)
    orders = state["orders"]
    hot = None
    if zipf is not None:
        rng = np.random.default_rng([seed, 11])
        perm = rng.permutation(orders.next_key)
        ranks = np.minimum(rng.zipf(zipf, n_batches * batch_events) - 1, orders.next_key - 1)
        hot = perm[ranks].tolist()
    for b in range(n_batches):
        rnd = random.Random(seed * 1_000_003 + b)
        w.out, w.events = [], 0
        touched: list[tuple[str, int]] = []
        for i in range(batch_events):
            if hot is not None:
                t, k = "orders", hot[b * batch_events + i]
            elif touched and rnd.random() < 0.10:
                t, k = rnd.choice(touched)
            else:
                t = "orders" if len(state) == 1 or rnd.random() < 0.9 else "customer"
                k = rnd.randrange(state[t].next_key)
            _change(w, state[t], k, rnd)
            touched.append((t, k))
            if rnd.random() < 0.01:
                w.noise(rnd)
        _close_batch(s, w, out_dir, state, 1)
    return s


def _close_batch(
    s: Stream, w: _Writer, out_dir: str, state: dict[str, _Target], parts: int
) -> None:
    os.makedirs(out_dir, exist_ok=True)
    paths = []
    step = -(-len(w.out) // parts)
    for p in range(parts):
        path = os.path.join(out_dir, f"batch-{len(s.files):05d}-{p}.json")
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(w.out[p * step : (p + 1) * step]))
            f.write("\n")
        paths.append(path)
    s.files.append(paths)
    s.lines.append(len(w.out))
    s.events.append(w.events)
    s.expected.append(_snapshot(state))
