"""Seeded input generators for the benchmark workloads.

Every generator is vectorized numpy/pyarrow and a pure function of its
seed and size arguments, written to parquet with fixed writer
settings, so the same seed gives byte-identical files. None of them
calls the package under test: a program change cannot move the inputs.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

EPOCH_2024 = 1704067200  # 2024-01-01T00:00:00Z
DAY = 86400
UTC_US = pa.timestamp("us", tz="UTC")
NAIVE_US = pa.timestamp("us")

PAGES = ["home", "catalog", "product", "cart", "checkout", "profile",
         "search", "wishlist", "support", "blog", "deals"]
ACTIONS = ["click", "scroll", "add_to_cart", "remove_from_cart",
           "search", "filter", "review", "share"]
DEVICES = ["mobile", "desktop", "tablet"]
ROOMS = ["Room Admin", "Room Lab", "Room Hall", "Room Store"]


def write_parquet(table: pa.Table, path: str) -> int:
    """Write with fixed settings (no wall-clock metadata) and return bytes."""
    pq.write_table(table, path, compression="snappy", row_group_size=1 << 20)
    return os.path.getsize(path)


def write_partitioned(table: pa.Table, root: str, column: str) -> int:
    """Hive-partitioned parquet (``root/<column>=<value>/part-0.parquet``),
    the layout Spark's partitioned sinks write; returns bytes."""
    pq.write_to_dataset(table, root, partition_cols=[column], compression="snappy",
                        basename_template="part-{i}.parquet")
    return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(root) for f in fs)


def _ids(prefix: str, ids: np.ndarray, width: int) -> pa.Array:
    padded = pc.utf8_lpad(pc.cast(pa.array(ids), pa.string()), width, "0")
    return pc.binary_join_element_wise(prefix, padded, "")


def _choice(options: list[str], idx: np.ndarray) -> pa.Array:
    return pa.DictionaryArray.from_arrays(
        pa.array(idx.astype(np.int32)), pa.array(options)
    ).cast(pa.string())


def _rotated_subsets(rng, options: list[str], n: int, max_k: int) -> pa.Array:
    """list<string>: per row an ordered, repeat-free 1..max_k subset
    (a random rotation of ``options`` cut at a random length)."""
    m = len(options)
    k = rng.integers(1, max_k + 1, n)
    start = rng.integers(0, m, n)
    grid = (start[:, None] + np.arange(max_k)[None, :]) % m
    flat = grid[np.arange(max_k)[None, :] < k[:, None]]
    offsets = np.concatenate([[0], np.cumsum(k)]).astype(np.int32)
    return pa.ListArray.from_arrays(pa.array(offsets), _choice(options, flat))


def _ts(seconds: np.ndarray, tz=UTC_US) -> pa.Array:
    return pa.array(seconds.astype(np.int64) * 1_000_000, pa.int64()).cast(tz)


# --- daily raw documents ----------------------------------------------------


def daily_sessions(seed: int, day: int, n: int, n_users: int) -> pa.Table:
    """One day of Mongo-shaped user_sessions documents: nested page and
    action arrays, ~2% end-before-start and ~2% over-24h anomalies, and
    the first 2% of documents re-inserted verbatim, as the reference
    seeder does. Session ids are unique across days."""
    rng = np.random.default_rng([seed, 1, day])
    start = EPOCH_2024 + day * DAY + rng.integers(0, DAY, n)
    dur = rng.integers(60, 7200, n)
    kind = rng.random(n)
    dur = np.where(kind < 0.02, -rng.integers(60, 3600, n), dur)
    dur = np.where((kind >= 0.02) & (kind < 0.04), rng.integers(25 * 3600, 30 * 3600, n), dur)
    docs = pa.table({
        "session_id": _ids("sess_", day * n + np.arange(n), 9),
        "user_id": _ids("user_", rng.integers(0, n_users, n), 5),
        "start_time": _ts(start),
        "end_time": _ts(start + dur),
        "pages_visited": _rotated_subsets(rng, PAGES, n, 8),
        "device": _choice(DEVICES, rng.integers(0, 3, n)),
        "actions": _rotated_subsets(rng, ACTIONS, n, 6),
    })
    return pa.concat_tables([docs, docs.slice(0, daily_dupes(n))])


def daily_dupes(n: int) -> int:
    """Duplicate documents injected into a day of ``n`` sessions."""
    return n // 50


# --- incremental_refresh ---------------------------------------------------


class ReadingsFeed:
    """IoT readings history plus a stream of daily deltas.

    Each delta is one new day of readings plus late corrections (same
    reading_id, newer ``updated_at``, new value) to the previous 6 days.
    The feed tracks current values so each delta also carries its
    additive-mart inbox rows: +1 for every new value, -1 retracting
    every corrected old value.
    """

    def __init__(self, seed: int, history_days: int, rows_per_day: int,
                 corrections_per_delta: int) -> None:
        self.rng = np.random.default_rng([seed, 2])
        self.rows_per_day = rows_per_day
        self.corrections = corrections_per_delta
        self.next_day = 0
        self.next_id = 0
        self.clock = EPOCH_2024
        self.day_of: list[np.ndarray] = []
        self.value_of: list[np.ndarray] = []
        self.history = self._new_days(history_days)

    def _new_days(self, n_days: int) -> pa.Table:
        n = n_days * self.rows_per_day
        day = np.repeat(np.arange(self.next_day, self.next_day + n_days), self.rows_per_day)
        ids = np.arange(self.next_id, self.next_id + n)
        cents = self.rng.normal(2500, 500, n).round().astype(np.int64)
        self.next_day += n_days
        self.next_id += n
        self.day_of.append(day)
        self.value_of.append(cents)
        self.clock += 1
        return self._rows(ids, day, cents, np.full(n, self.clock))

    def _rows(self, ids, day, cents, updated) -> pa.Table:
        return pa.table({
            "reading_id": pa.array(ids, pa.int64()),
            "room": _choice(ROOMS, ids % len(ROOMS)),
            "value": pa.array(cents / 100.0),
            "value_cents": pa.array(cents, pa.int64()),
            "updated_at": _ts(updated),
            "day": pa.array((EPOCH_2024 // DAY + day).astype(np.int32), pa.int32()).cast(pa.date32()),
        })

    def bootstrap_inbox(self) -> pa.Table:
        """Additive-mart inbox rows (+1 each) for the whole history."""
        h = self.history
        return pa.table({"day": h.column("day"), "value_cents": h.column("value_cents"),
                         "weight": pa.array(np.ones(h.num_rows, np.int64))})

    def next_delta(self) -> tuple[pa.Table, pa.Table]:
        """(upsert delta rows, additive-mart inbox rows)."""
        days = np.concatenate(self.day_of)
        values = np.concatenate(self.value_of)
        lo = self.next_day - 6
        recent = np.flatnonzero(days >= lo)
        pick = self.rng.choice(recent, self.corrections, replace=False)
        old = values[pick].copy()
        new = old + self.rng.integers(-300, 301, len(pick))
        new = np.where(new == old, old + 1, new)
        self.value_of = [values]
        self.day_of = [days]
        values[pick] = new
        fresh = self._new_days(1)
        corr = self._rows(pick, days[pick], new, np.full(len(pick), self.clock))
        delta = pa.concat_tables([fresh, corr])
        inbox = pa.table({
            "day": pa.concat_arrays([delta.column("day").combine_chunks(),
                                     corr.column("day").combine_chunks()]),
            "value_cents": pa.concat_arrays([delta.column("value_cents").combine_chunks(),
                                             pa.array(old, pa.int64())]),
            "weight": pa.array(np.concatenate([np.ones(len(delta), np.int64),
                                               -np.ones(len(pick), np.int64)])),
        })
        return delta, inbox


# --- catalog_queries -------------------------------------------------------


def catalog_tables(seed: int, scale: float, out_dir: str) -> dict:
    """TPC-H-ish star schema plus events/documents/embeddings, in the
    column names, types and value domains the query catalog reads.
    ``scale`` 0.01 gives 60k lineitem rows."""
    rng = np.random.default_rng([seed, 4])
    n_cust, n_supp, n_part = int(150_000 * scale), max(10, int(10_000 * scale)), int(200_000 * scale)
    n_ord, n_li = int(1_500_000 * scale), int(6_000_000 * scale)
    n_ev, n_doc, n_emb = int(1_000_000 * scale), max(50, int(50_000 * scale)), max(50, int(50_000 * scale))
    seg = ["MACHINERY", "AUTOMOBILE", "FURNITURE", "HOUSEHOLD", "BUILDING"]
    cents = lambda lo, hi, n: rng.integers(lo, hi, n) / 100.0  # noqa: E731
    day0 = np.datetime64("1995-01-01")
    tabs = {
        "region": pa.table({"r_regionkey": pa.array(np.arange(5, dtype=np.int32)),
                            "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"])}),
        "nation": pa.table({"n_nationkey": pa.array(np.arange(25, dtype=np.int32)),
                            "n_name": _ids("NATION_", np.arange(25), 1),
                            "n_regionkey": pa.array((np.arange(25) % 5).astype(np.int32))}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust, dtype=np.int64)),
            "c_name": _ids("Customer#", np.arange(n_cust), 9),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype(np.int32)),
            "c_acctbal": pa.array(cents(-99999, 1000000, n_cust)),
            "c_mktsegment": _choice(seg, rng.integers(0, 5, n_cust))}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp, dtype=np.int64)),
            "s_name": _ids("Supplier#", np.arange(n_supp), 9),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype(np.int32)),
            "s_acctbal": pa.array(cents(-99999, 1000000, n_supp))}),
    }
    adj = ["small", "new", "hot", "large", "cold", "blue", "old", "red"]
    noun = ["widget", "gizmo", "ring", "gear", "bolt", "plate", "anvil", "rod"]
    tabs["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part, dtype=np.int64)),
        "p_name": pc.binary_join_element_wise(_choice(adj, rng.integers(0, 8, n_part)),
                                              _choice(noun, rng.integers(0, 8, n_part)), " "),
        "p_brand": _ids("Brand#", rng.integers(1, 26, n_part), 1),
        "p_type": _choice(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"],
                          rng.integers(0, 6, n_part)),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype(np.int32)),
        "p_retailprice": pa.array(900.0 + (np.arange(n_part) % 1000) / 10.0)})
    odate = day0 + rng.integers(0, 2404, n_ord).astype("timedelta64[D]")
    tabs["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord, dtype=np.int64)),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord).astype(np.int64)),
        "o_orderstatus": _choice(["P", "O", "F"], rng.integers(0, 3, n_ord)),
        "o_totalprice": pa.array(cents(100000, 50000000, n_ord)),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), NAIVE_US),
        "o_orderpriority": _choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"],
                                   rng.integers(0, 5, n_ord))})
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    sdate = day0 + 1 + rng.integers(0, 2500, n_li).astype("timedelta64[D]")
    tabs["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_li).astype(np.int64)),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype(np.int64)),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype(np.int64)),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li).astype(np.int32)),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(np.round(qty * rng.integers(90000, 210000, n_li) / 100.0, 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": _choice(["R", "A", "N"], rng.integers(0, 3, n_li)),
        "l_linestatus": _choice(["O", "F"], rng.integers(0, 2, n_li)),
        "l_shipdate": pa.array(sdate.astype("datetime64[us]"), NAIVE_US)})
    gaps = rng.exponential(30 * DAY * 1e6 / n_ev, n_ev).astype(np.int64) + 1
    ts = np.datetime64("2024-01-01T00:00:00", "us") + np.cumsum(gaps).astype("timedelta64[us]")
    tabs["events"] = pa.table({
        "event_id": pa.array(np.arange(n_ev, dtype=np.int64)),
        "ts": pa.array(ts, NAIVE_US),
        "user_id": pa.array(rng.integers(0, 150, n_ev).astype(np.int64)),
        "event_type": _choice(["click", "signup", "error", "view", "purchase"], rng.integers(0, 5, n_ev)),
        "value": pa.array(cents(1, 49003, n_ev)),
        "props": pc.binary_join_element_wise('{"k": ', pc.cast(pa.array(rng.integers(0, 100, n_ev)),
                                                                pa.string()), "}", "")})
    words = np.array("dup vector batch part value a slow scan merge sort hash table join fast "
                     "column key spark agg the line order data small customer query window big "
                     "stream group row filter".split())
    lens = rng.integers(8, 80, n_doc)
    texts = [" ".join(words[rng.integers(0, len(words), k)]) for k in lens]
    tabs["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": _choice(["en", "es", "fr", "zh", "de"],
                        rng.choice(5, n_doc, p=[0.44, 0.14, 0.14, 0.14, 0.14])),
        "source": _ids("src", np.arange(n_doc) % 20, 1),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64))})
    emb = (rng.normal(0, 0.12, (n_emb, 64))).astype(np.float32)
    tabs["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb, dtype=np.int64)),
        "embedding": pa.FixedSizeListArray.from_arrays(pa.array(emb.ravel()), 64).cast(
            pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb).astype(np.int32))})
    return {name: write_parquet(t, f"{out_dir}/{name}.parquet") for name, t in tabs.items()}
