"""The benchmark's three workloads.

Each workload is a closed loop with one client. A workload builds its
operations from the seed, runs them one at a time, and checks every
result (untimed) against a reference it computes itself: DuckDB over
the same parquet files, the registry's DuckDB oracles, or the expected
table state derived from the generated inputs.
"""

from __future__ import annotations

import csv
import io
import json
import math
import os
import urllib.request

import numpy as np

from datagen import DATE_LO, ORDER_DAYS, SEGMENTS

# batch_heavy runs this fixed subset of the registry's `heavy` bucket:
# one query per cost regime (scan+agg, multi-way join, window,
# projection-heavy functions, pandas-UDF dedup, text TF-IDF, corpus
# packing with local checkpoints) plus one LSH query that has no oracle.
# All 28 do not fit a run: a warm pass of the 28 took 28 s at sf0.01 on
# 4 cores, and every run also pays a cold oracle-checked pass.
BATCH_QUERIES = (
    "q1_pricing_summary",
    "q3_shipping_priority",
    "window_ranks_quantity",
    "func_math_family",
    "dedup_jaccard_pairs",
    "text_tfidf_top_terms",
    "pack_token_budget_shards",
    "dedup_minhash_lsh_fast",
)


class Op:
    """One operation: `kind` groups operations for the metrics."""

    def __init__(self, kind: str, text: str, is_read: bool, expect=None) -> None:
        self.kind = kind
        self.text = text
        self.is_read = is_read
        self.expect = expect  # callable returning expected rows, or None
        self.fmt = text.rsplit(None, 1)[-1] if expect is not None else None


def _day(rng, lo: int = 0, hi: int = ORDER_DAYS) -> str:
    return str(DATE_LO + np.timedelta64(int(rng.integers(lo, hi)), "D"))


# --- result parsing and comparison ----------------------------------------


def parse_output(text: str, fmt: str) -> list[list[str]]:
    """Rows of an engine response, as strings, in the FORMAT it used."""
    f = fmt.lower()
    lines = [ln for ln in text.splitlines() if ln != ""]
    if f == "jsoneachrow":
        return [[_cell(v) for v in json.loads(ln).values()] for ln in lines]
    if f == "csvwithnames":
        return [list(r) for r in csv.reader(io.StringIO(text))][1:]
    if f == "pretty":
        return [[c.strip() for c in ln.split(" | ")] for ln in lines[2:]]
    return [ln.split("\t") for ln in lines]


def _cell(v) -> str:
    if v is None:
        return ""
    if isinstance(v, float) and v.is_integer():
        return str(int(v))
    return str(v)


def _same(a: str, b) -> bool:
    b = "" if b is None else str(b)
    try:
        x, y = float(a), float(b)
    except ValueError:
        return a.replace("T", " ").removesuffix(" 00:00:00") == b.replace("T", " ").removesuffix(" 00:00:00")
    return math.isclose(x, y, rel_tol=1e-9, abs_tol=1e-6)


def rows_match(got: list[list[str]], want: list[tuple]) -> bool:
    return len(got) == len(want) and all(
        len(g) == len(w) and all(_same(a, b) for a, b in zip(g, w))
        for g, w in zip(got, want))


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, fs in os.walk(path) for f in fs)


def parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


# --- geohash reference (standard base32 bisection) -------------------------

_B32 = "0123456789bcdefghjkmnpqrstuvwxyz"


def geohash(lon: float, lat: float, precision: int) -> str:
    lo = [-180.0, -90.0]
    hi = [180.0, 90.0]
    out, val = [], 0
    for i in range(precision * 5):
        d = i % 2 == 1  # even bits: longitude, odd bits: latitude
        x = lat if d else lon
        mid = (lo[d] + hi[d]) / 2.0
        bit = x >= mid
        if bit:
            lo[d] = mid
        else:
            hi[d] = mid
        val = (val << 1) | bit
        if i % 5 == 4:
            out.append(_B32[val])
            val = 0
    return "".join(out)


# --- serve_chsql ------------------------------------------------------------


def serve_cycle(rng, counts: dict[str, int], duck) -> list[Op]:
    """One statement per read template, literals from `rng`;
    op.expect computes the reference rows with DuckDB."""

    def q(sql):
        return lambda: duck.execute(sql).fetchall()

    d = _day(rng, 1500, ORDER_DAYS)
    k = int(rng.integers(0, counts["customer"]))
    seg = SEGMENTS[int(rng.integers(0, 5))]
    u = int(rng.integers(counts["events"] // 200 + 20, counts["events"] // 50 + 40))
    nk = int(rng.integers(0, 25))

    def udf_expect(sql):
        # distinct names stand in for distinct cityHash64 values (a
        # collision among a few hundred names has negligible odds)
        def expect():
            groups: dict[str, list] = {}
            for seg, name, bal in duck.execute(sql).fetchall():
                groups.setdefault(seg, []).append((name, geohash(bal / 200.0, nk * 3.0 - 30.0, 6)))
            return [(seg, len({n for n, _ in g}), len(g), min(h for _, h in g))
                    for seg, g in sorted(groups.items())]
        return expect

    tmpl = [
        ("agg_q1", "TabSeparated",
         "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
         "sum(l_extendedprice) AS sum_price, count() AS n FROM lineitem "
         f"WHERE l_shipdate <= toDateTime('{d} 00:00:00') "
         "GROUP BY l_returnflag, l_linestatus ORDER BY l_returnflag, l_linestatus",
         q("SELECT l_returnflag, l_linestatus, sum(l_quantity), sum(l_extendedprice), "
           f"count(*) FROM lineitem WHERE l_shipdate <= TIMESTAMP '{d} 00:00:00' "
           "GROUP BY ALL ORDER BY 1, 2")),
        ("filter_key", "JSONEachRow",
         "SELECT o_orderkey, o_orderstatus, o_totalprice, toDate(o_orderdate) AS d "
         f"FROM orders WHERE o_custkey = {k} ORDER BY o_orderkey",
         q("SELECT o_orderkey, o_orderstatus, o_totalprice, CAST(o_orderdate AS DATE) "
           f"FROM orders WHERE o_custkey = {k} ORDER BY o_orderkey")),
        ("join_q3", "Pretty",
         "SELECT l.l_orderkey AS orderkey, sum(l.l_extendedprice * (1 - l.l_discount)) "
         "AS revenue, toDate(o.o_orderdate) AS orderdate FROM customer AS c "
         "INNER JOIN orders AS o ON c.c_custkey = o.o_custkey "
         "INNER JOIN lineitem AS l ON l.l_orderkey = o.o_orderkey "
         f"WHERE c.c_mktsegment = '{seg}' AND o.o_orderdate < toDateTime('{d} 00:00:00') "
         f"AND l.l_shipdate > toDateTime('{d} 00:00:00') "
         "GROUP BY l.l_orderkey, o.o_orderdate ORDER BY revenue DESC, orderkey LIMIT 10",
         q("SELECT l.l_orderkey, sum(l.l_extendedprice * (1 - l.l_discount)) AS revenue, "
           "CAST(o.o_orderdate AS DATE) FROM customer c JOIN orders o "
           "ON c.c_custkey = o.o_custkey JOIN lineitem l ON l.l_orderkey = o.o_orderkey "
           f"WHERE c.c_mktsegment = '{seg}' AND o.o_orderdate < TIMESTAMP '{d} 00:00:00' "
           f"AND l.l_shipdate > TIMESTAMP '{d} 00:00:00' "
           "GROUP BY l.l_orderkey, o.o_orderdate ORDER BY revenue DESC, 1 LIMIT 10")),
        ("window_topk", "JSONEachRow",
         "SELECT event_type, user_id, value, rk FROM (SELECT event_type, user_id, value, "
         "row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rk "
         f"FROM events WHERE user_id < {u}) WHERE rk <= 3 ORDER BY event_type, rk",
         q("SELECT event_type, user_id, value, rk FROM (SELECT event_type, user_id, value, "
           "row_number() OVER (PARTITION BY event_type ORDER BY value DESC, event_id) AS rk "
           f"FROM events WHERE user_id < {u}) WHERE rk <= 3 ORDER BY event_type, rk")),
        ("udf_hashes", "CSVWithNames",
         "SELECT c_mktsegment, uniqExact(cityHash64(c_name)) AS u, count() AS n, "
         "min(geohashEncode(c_acctbal / 200.0, c_nationkey * 3.0 - 30.0, 6)) AS gh "
         f"FROM customer WHERE c_nationkey = {nk} GROUP BY c_mktsegment ORDER BY c_mktsegment",
         udf_expect(f"SELECT c_mktsegment, c_name, c_acctbal FROM customer "
                    f"WHERE c_nationkey = {nk}")),
        ("system_columns", "TabSeparated",
         "SELECT table_name, count() AS n FROM system.columns WHERE table_name IN "
         "('lineitem', 'orders', 'customer') GROUP BY table_name ORDER BY table_name",
         q("SELECT table_name, count(*) FROM information_schema.columns WHERE table_name "
           "IN ('lineitem', 'orders', 'customer') GROUP BY 1 ORDER BY 1")),
    ]
    return [Op(kind, f"{sql} FORMAT {fmt}", True, expect) for kind, fmt, sql, expect in tmpl]


class Ingest:
    """Writes into one ReplacingMergeTree table and the expected table
    state they leave: INSERT ... SELECT slices of lineitem and
    JSONEachRow payloads in which a seeded share of rows re-use live
    keys at a higher version, read-after-write SELECTs with and without
    FINAL, and OPTIMIZE ... FINAL."""

    table = "li_rmt"
    create = (f"CREATE TABLE {table} (l_orderkey Int64, l_linenumber Int32, qty Float64, "
              "price Float64, ver Int64) ENGINE = ReplacingMergeTree(ver) "
              "ORDER BY (l_orderkey, l_linenumber)")
    slice_orders = 0.01  # share of orders one INSERT ... SELECT covers
    json_rows = 100
    reuse_share = 0.3

    def __init__(self, tables, rng) -> None:
        li = tables["lineitem"].select(
            ["l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice"]).to_pandas()
        self.by_key = li.groupby(["l_orderkey", "l_linenumber"]).agg(
            qty=("l_quantity", "sum"), price=("l_extendedprice", "sum"))
        self.n_orders = tables["orders"].num_rows
        self.rng = rng
        self.ver = 0
        self.state: dict[tuple[int, int], tuple[float, float, int]] = {}
        self.payload_bytes = 0  # JSONEachRow bytes of every row written

    def _apply(self, rows) -> None:
        self.ver += 1
        for k, ln, q, p in rows:
            self.state[(int(k), int(ln))] = (float(q), float(p), self.ver)
            self.payload_bytes += len(json.dumps({"l_orderkey": int(k), "l_linenumber": int(ln),
                                                  "qty": q, "price": p, "ver": self.ver}))

    def insert_select(self) -> Op:
        width = max(1, int(self.n_orders * self.slice_orders))
        a = int(self.rng.integers(0, self.n_orders - width))
        self._apply(self.by_key.loc[a:a + width - 1].reset_index().itertuples(index=False))
        return Op("insert_select", (
            f"INSERT INTO {self.table} SELECT l_orderkey, l_linenumber, sum(l_quantity) AS qty, "
            f"sum(l_extendedprice) AS price, {self.ver} AS ver FROM lineitem "
            f"WHERE l_orderkey >= {a} AND l_orderkey < {a + width} "
            "GROUP BY l_orderkey, l_linenumber"), False)

    def insert_json(self) -> Op:
        live = list(self.state)
        keys = {live[i] for i in self.rng.integers(0, len(live), int(self.json_rows * self.reuse_share))}
        while len(keys) < self.json_rows:
            keys.add((int(self.rng.integers(0, self.n_orders)), int(self.rng.integers(1, 8))))
        rows = [(k, ln, float(self.rng.integers(1, 51)), round(float(self.rng.uniform(900, 105_000)), 2))
                for k, ln in sorted(keys)]
        self._apply(rows)
        body = "\n".join(json.dumps({"l_orderkey": k, "l_linenumber": ln, "qty": q,
                                     "price": p, "ver": self.ver}) for k, ln, q, p in rows)
        return Op("insert_json", f"INSERT INTO {self.table} FORMAT JSONEachRow\n{body}", False)

    def select_final(self) -> Op:
        snap = list(self.state.values())
        want = [(len(snap), sum(v[0] for v in snap), sum(v[1] for v in snap),
                 max(v[2] for v in snap))]
        return Op("select_final", f"SELECT count() AS n, sum(qty) AS q, sum(price) AS p, "
                  f"max(ver) AS v FROM {self.table} FINAL FORMAT JSONEachRow", True, lambda: want)

    def select_keys(self) -> Op:
        want = [(len(self.state), self.ver)]
        return Op("select_keys", f"SELECT uniqExact(l_orderkey, l_linenumber) AS keys, "
                  f"max(ver) AS v FROM {self.table} FORMAT TabSeparated", True, lambda: want)

    def select_point(self) -> Op:
        live = list(self.state)
        k = live[int(self.rng.integers(0, len(live)))][0]
        want = sorted((ln, *self.state[(kk, ln)]) for kk, ln in self.state if kk == k)
        return Op("select_point", f"SELECT l_linenumber, qty, price, ver FROM {self.table} FINAL "
                  f"WHERE l_orderkey = {k} ORDER BY l_linenumber FORMAT CSVWithNames",
                  True, lambda: want)

    def optimize(self) -> Op:
        return Op("optimize", f"OPTIMIZE TABLE {self.table} FINAL", False)

    def makers(self) -> list:
        """One pass of writes and read-after-write reads; OPTIMIZE is
        placed by the caller."""
        return [self.insert_select, self.insert_json,
                self.select_final, self.select_keys, self.select_point]


class ServeChsql:
    """One client over loopback HTTP to the engine's embedded server:
    the ClickHouse-dialect read mix of serve_cycle over the generated
    tables, interleaved with the Ingest writes and read-after-write
    reads on a ReplacingMergeTree table in the same data directory.
    Every statement re-registers the catalog, transpiles, plans,
    executes and emits."""

    # each read template runs this often per pass: more read samples
    # for read_p50_s at about 1.7 s a statement
    read_rounds = 2

    def __init__(self, data_dir: str, tables, counts: dict[str, int], seed: int) -> None:
        import duckdb

        self.data_dir = data_dir
        self.counts = counts
        self.rng = np.random.default_rng(seed + 1)
        self.ingest = Ingest(tables, np.random.default_rng(seed + 2))
        self.duck = duckdb.connect()
        for t in counts:
            self.duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                              f"read_parquet('{os.path.join(data_dir, t + '.parquet')}')")
        self.server = None

    def setup(self, spark) -> None:
        """Create the table (first session only) and start the HTTP
        server on this session."""
        from clickhouse_25_5_3_75_stable_spark.__main__ import run_local
        from clickhouse_25_5_3_75_stable_spark.http_server import serve_in_thread

        self.close()
        if not os.path.isdir(self.table_dir()):
            run_local(self.ingest.create, self.data_dir, spark=spark, out=io.StringIO())
        self.server, self.port = serve_in_thread(spark, self.data_dir)

    def close(self) -> None:
        if self.server is not None:
            self.server.shutdown()
            self.server.server_close()
            self.server = None

    def table_dir(self) -> str:
        return os.path.join(self.data_dir, self.ingest.table)

    def passes(self):
        """Each pass: every read template read_rounds times and the ingest makers,
        interleaved in seeded order, then OPTIMIZE ... FINAL. Ingest ops
        are built when reached: their expected state depends on the
        writes before them."""
        while True:
            reads = [lambda op=op: op for _ in range(self.read_rounds)
                     for op in serve_cycle(self.rng, self.counts, self.duck)]
            makers = reads + self.ingest.makers()
            order = self.rng.permutation(len(makers))
            yield (m() for m in [makers[i] for i in order] + [self.ingest.optimize])

    def warmup_ops(self):
        return [self.ingest.insert_select()]

    def run(self, spark, op: Op) -> str:
        req = urllib.request.Request(f"http://127.0.0.1:{self.port}/",
                                     data=op.text.encode(), method="POST")
        with urllib.request.urlopen(req, timeout=120) as resp:
            return resp.read().decode()

    def check(self, op: Op, out: str) -> bool:
        if op.expect is None:
            return f"{self.ingest.table}\tOk" in out
        return rows_match(parse_output(out, op.fmt), op.expect())


# --- batch_heavy -------------------------------------------------------------


class BatchHeavy:
    """Heavy registry queries through their DataFrame builders (no
    chsql, no HTTP), each result materialised in full into the `noop`
    sink. Checked against the registry's DuckDB oracles; the LSH query
    without an oracle must keep its row count and schema."""

    def __init__(self, data_dir: str, seed: int) -> None:
        self.data_dir = data_dir
        self.rng = np.random.default_rng(seed + 3)
        self.reference: dict[str, tuple] = {}

    def setup(self, spark) -> None:
        pass

    def close(self) -> None:
        pass

    def passes(self):
        while True:
            yield [Op(BATCH_QUERIES[i], BATCH_QUERIES[i], True)
                   for i in self.rng.permutation(len(BATCH_QUERIES))]

    def build(self, spark, op: Op):
        from clickhouse_25_5_3_75_stable_spark.queries import REGISTRY

        return REGISTRY[op.kind].fn(spark, self.data_dir)

    def materialise(self, df) -> None:
        df.write.format("noop").mode("overwrite").save()

    def verify_against_oracles(self, spark) -> tuple[int, int, dict]:
        """Untimed: collect each query once and compare with its DuckDB
        oracle (or record row count and schema when it has none).
        Returns (checked, failed, per-query failures)."""
        from clickhouse_25_5_3_75_stable_spark.queries import REGISTRY
        from tests.oracle_harness import duckdb_conn, normalize, run_oracle

        con = duckdb_conn(self.data_dir)
        bad = {}
        for name in BATCH_QUERIES:
            df = REGISTRY[name].fn(spark, self.data_dir)
            rows = [tuple(r) for r in df.collect()]
            if REGISTRY[name].oracle is None:
                self.reference[name] = (len(rows), df.schema.simpleString())
                continue
            want = normalize(*run_oracle(con, name))
            got = normalize(df.columns, rows)
            if got[1] != want[1]:
                bad[name] = f"{len(got[1])} rows vs oracle {len(want[1])}"
        con.close()
        return len(BATCH_QUERIES), len(bad), bad

    def verify_stable(self, spark) -> dict:
        """Untimed, after the timed loop: the no-oracle queries must
        reproduce the row count and schema recorded before it."""
        from clickhouse_25_5_3_75_stable_spark.queries import REGISTRY

        bad = {}
        for name, ref in self.reference.items():
            df = REGISTRY[name].fn(spark, self.data_dir)
            got = (df.count(), df.schema.simpleString())
            if got != ref:
                bad[name] = f"{got} vs {ref}"
        return bad
