"""The benchmark's two workloads.

Each workload yields passes: lists of ``Stmt``.  A statement's ``run``
builds a fresh plan every time (``MultiSQLSession.execute`` or a new
``QuerySpec.fn`` call) and returns its result; ``check`` compares that
result with the expected value computed before the Spark session starts.
All statement parameters are drawn from the benchmark seed.
"""

from __future__ import annotations

import os
import re
import shutil
from dataclasses import dataclass
from typing import Any, Callable

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import datagen

BASE_SF = 0.1  # the attached copy of sf0.1 (DML script, federated replica)
REPLICAS = 10  # federated_sql reads a 10x key-offset replica (derived sf1)
PIPELINE_SF = 0.02  # operator_pipeline's scale; see README.md
POOL = 4  # distinct parameter sets per read statement


@dataclass
class Stmt:
    name: str  # statement identity: per-statement medians key on it
    # select | insert | update | delete | merge | query, or ddl: the
    # table resets of a pass, which are run and checked but not timed
    kind: str
    run: Callable[[Any], Any]  # run(tracer or None) -> result
    check: Callable[[Any], bool]
    attached: bool = False  # DML on an attached (file-backed) table


def canon(labels, rows) -> tuple:
    """Order-insensitive canonical form of a result (the engine's oracle
    canonicalisation: columns sorted by lower-cased name, rows sorted)."""
    from multisql_spark.testing import canon_rows

    names = [c.lower() for c in labels]
    return tuple(sorted(names)), tuple(canon_rows(names, rows))


def _duck(views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads=4")
    con.execute("SET memory_limit='2GB'")
    for name, src in views.items():
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM {src}")
    return con


def _parquet_views(d: str, prefix: str = "") -> dict[str, str]:
    out = {}
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet"):
            p = os.path.join(d, f)
            glob = f"{p}/*.parquet" if os.path.isdir(p) else p
            out[prefix + f[: -len(".parquet")]] = f"read_parquet('{glob}')"
    return out


def _oracle(con, sql: str) -> tuple:
    rel = con.execute(sql)
    return canon([d[0] for d in rel.description], rel.fetchall())


def _payload_check(expected):
    def check(p) -> bool:
        return canon(p.labels, p.rows) == expected
    return check


def warmup(workload) -> list[Stmt]:
    """The warm-up statements: one whole pass of the script, pass 1000 (so
    the DML rows and the attached ledger's ids differ from the timed
    passes').  A fixed amount of work, not a fixed time, so a slow host
    does not shorten the warm-up; and a whole pass, so no statement of the
    timed window runs for the first time in the JVM."""
    return next(workload.passes(start=1000))


# --------------------------------------------------------------------------
class FederatedSQL:
    """An embedded caller's SQL: read statements across two attached
    databases (the derived-sf1 parquet replica ``r`` and the CSV database
    ``x``), then the validated writes of ``DmlScript``."""

    def __init__(self, seed: int, data: dict[str, str], scratch: str):
        self.data = data
        self.dml = DmlScript(seed, data, scratch)
        rng = np.random.default_rng([seed, 1])
        k = datagen.KEY_BASE
        n_ord = int(1_500_000 * BASE_SF)
        n_cust = int(150_000 * BASE_SF)
        day0 = np.datetime64("1995-01-01")

        def rep():
            return int(rng.integers(0, REPLICAS)) * k

        def day(span):
            return str(day0 + int(rng.integers(0, span)))

        templates = []  # (name, engine sql, oracle sql) per pool slot
        for _ in range(POOL):
            ok = rep() + int(rng.integers(0, n_ord))
            lo = rep() + int(rng.integers(0, n_ord - 5000))
            lo2 = rep() + int(rng.integers(0, n_ord - 20000))
            d1, d2 = day(2000 - 365), day(2400 - 90)
            c1 = rep() + int(rng.integers(0, n_cust - 2000))
            c2 = rep() + int(rng.integers(0, n_cust - 3000))
            cut = int(rng.integers(100_000, 400_000))
            d1e = str(np.datetime64(d1) + 365)
            d2e = str(np.datetime64(d2) + 90)
            templates.append([
                ("point",
                 "SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus"
                 f" FROM r.orders WHERE o_orderkey = {ok}", None),
                ("range",
                 "SELECT COUNT(*) AS n, SUM(l_quantity) AS q,"
                 " MAX(l_extendedprice) AS mx FROM r.lineitem"
                 f" WHERE l_orderkey BETWEEN {lo} AND {lo + 5000}", None),
                ("group_by",
                 "SELECT l_returnflag, l_linestatus, COUNT(*) AS n,"
                 " SUM(l_quantity) AS q FROM r.lineitem"
                 f" WHERE l_shipdate >= '{d1}' AND l_shipdate < '{d1e}'"
                 " GROUP BY l_returnflag, l_linestatus", None),
                ("join4",
                 "SELECT n_name AS nation, COUNT(*) AS n, SUM(l_quantity) AS q"
                 " FROM r.lineitem JOIN r.orders ON l_orderkey = o_orderkey"
                 " JOIN r.customer ON o_custkey = c_custkey"
                 " JOIN r.nation ON c_nationkey = n_nationkey"
                 f" WHERE o_orderdate >= '{d2}' AND o_orderdate < '{d2e}'"
                 " GROUP BY n_name", None),
                ("window_topk",
                 "SELECT o_custkey, o_orderkey, o_totalprice FROM ("
                 "SELECT o_custkey, o_orderkey, o_totalprice, ROW_NUMBER()"
                 " OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC,"
                 " o_orderkey) AS rn FROM r.orders"
                 f" WHERE o_custkey BETWEEN {c1} AND {c1 + 2000}) t"
                 " WHERE rn <= 3", None),
                ("cross_db",
                 "SELECT tier AS tier_name, COUNT(*) AS n, SUM(l_quantity) AS q"
                 " FROM r.lineitem JOIN x.ratings ON l_suppkey = s_suppkey"
                 f" WHERE l_orderkey BETWEEN {lo2} AND {lo2 + 20000}"
                 " GROUP BY tier", None),
                ("dialect",
                 f"SET @cut = {cut};"
                 " SELECT IIF(o_totalprice > @cut, 'high', 'low') AS band,"
                 " CONVERT('INTEGER', YEAR(o_orderdate)) AS yr,"
                 " COUNT(*) AS n FROM r.orders"
                 f" WHERE o_custkey BETWEEN {c2} AND {c2 + 3000}"
                 " GROUP BY 1, 2",
                 f"SELECT CASE WHEN o_totalprice > {cut} THEN 'high'"
                 " ELSE 'low' END AS band,"
                 " CAST(YEAR(o_orderdate) AS BIGINT) AS yr, COUNT(*) AS n"
                 " FROM r__orders"
                 f" WHERE o_custkey BETWEEN {c2} AND {c2 + 3000}"
                 " GROUP BY 1, 2"),
            ])
        self.templates = templates
        self.expected = None

    def prepare(self) -> None:
        views = _parquet_views(self.data["replica"], "r__")
        views["x__ratings"] = f"read_csv('{self.data['ratings']}', header=true)"
        con = _duck(views)
        try:
            self.expected = [
                [_oracle(con, osql or re.sub(r"\b([rx])\.", r"\1__", sql))
                 for _, sql, osql in slot]
                for slot in self.templates
            ]
        finally:
            con.close()

    def setup(self, spark) -> None:
        from multisql_spark import MultiSQLSession

        self.g = MultiSQLSession(spark)
        self.g.execute(
            f"CREATE DATABASE r LOCATION '{self.data['replica']}'")
        self.g.execute(
            f"CREATE DATABASE x LOCATION '{self.data['ratings']}'")
        self.dml.attach(self.g)

    def passes(self, start: int):
        i = start
        while True:
            slot = i % POOL
            yield [
                Stmt(name, "select",
                     lambda tr, sql=sql: self.g.execute(sql),
                     _payload_check(self.expected[slot][j]))
                for j, (name, sql, _) in enumerate(self.templates[slot])
            ] + self.dml.pass_stmts(i)
            i += 1


# --------------------------------------------------------------------------
class _DmlModel:
    """Python model of the managed tables, for affected-row counts and the
    end-of-pass state digest."""

    def __init__(self):
        self.acct = {}  # code -> [id, name, bal, tier]
        self.hist = {}  # okey -> [id, cust, total]
        self.next_acct = 1
        self.next_hist = 1


class DmlScript:
    """Validated writes beside reads on small managed tables whose
    constraints are checked on every write, an INSERT...SELECT from the
    attached sf0.1 copy ``tp``, and DML on the attached parquet table
    ``w.ledger`` (rewrite-on-write).  Each pass drops and recreates the
    managed tables first, so every pass starts from the same state and
    lineage depth."""

    def __init__(self, seed: int, data: dict[str, str], scratch: str):
        self.seed = seed
        self.data = data
        self.scratch = scratch
        orders = pq.read_table(os.path.join(data["base"], "orders.parquet"),
                               columns=["o_orderkey", "o_custkey",
                                        "o_totalprice"])
        self.orders = {c: orders[c].to_numpy() for c in orders.column_names}

    def attach(self, g) -> None:
        """Attach the sf0.1 copy and a fresh parquet ledger to session
        ``g``, through which the statements run."""
        wdir = os.path.join(self.scratch, "w")
        shutil.rmtree(wdir, ignore_errors=True)
        os.makedirs(wdir)
        n = 2000
        pq.write_table(pa.table({
            "lid": np.arange(n, dtype=np.int64),
            "acct": np.arange(n, dtype=np.int64) % 97,
            "amt": np.arange(n, dtype=np.float64) * 0.5,
        }), os.path.join(wdir, "ledger.parquet"))
        self.g = g
        g.execute(f"CREATE DATABASE tp LOCATION '{self.data['base']}'")
        g.execute(f"CREATE DATABASE w LOCATION '{wdir}'")

    def _exec(self, sql):
        return lambda tr: self.g.execute(sql)

    def pass_stmts(self, p: int) -> list[Stmt]:
        rng = np.random.default_rng([self.seed, 2, p])
        m = _DmlModel()
        out = []

        def add(name, kind, sql, check, attached=False):
            out.append(Stmt(name, kind, self._exec(sql), check, attached))

        def count_is(n):
            return lambda payload: payload.count == n

        def kind_is(k):
            return lambda payload: payload.kind == k

        add("drop_acct", "ddl", "DROP TABLE IF EXISTS acct",
            kind_is("DropTable"))
        add("create_acct", "ddl",
            "CREATE TABLE acct (id INTEGER AUTO_INCREMENT,"
            " code INTEGER UNIQUE NOT NULL, name TEXT NOT NULL,"
            " bal FLOAT DEFAULT 0.0, tier TEXT DEFAULT 'std')",
            kind_is("Create"))
        add("drop_hist", "ddl", "DROP TABLE IF EXISTS hist",
            kind_is("DropTable"))
        add("create_hist", "ddl",
            "CREATE TABLE hist (id INTEGER AUTO_INCREMENT,"
            " okey INTEGER UNIQUE NOT NULL, cust INTEGER NOT NULL,"
            " total FLOAT)", kind_is("Create"))
        codes = [int(c) for c in rng.choice(100_000, 9, replace=False)]
        for i in range(2):  # single-row INSERTs
            c, b = codes[i], int(rng.integers(0, 400)) * 0.25
            m.acct[c] = [m.next_acct, f"n{c}", b, "std"]
            m.next_acct += 1
            add("insert_row", "insert",
                f"INSERT INTO acct (code, name, bal) VALUES ({c}, 'n{c}', {b})",
                count_is(1))
        batch = codes[2:8]  # one batch INSERT with DEFAULTs filled in
        for c in batch:
            m.acct[c] = [m.next_acct, f"b{c}", 0.0, "std"]
            m.next_acct += 1
        add("insert_batch", "insert",
            "INSERT INTO acct (code, name) VALUES "
            + ", ".join(f"({c}, 'b{c}')" for c in batch), count_is(len(batch)))
        lo = int(rng.integers(0, len(self.orders["o_orderkey"]) - 16))
        for i in range(lo, lo + 16):
            m.hist[int(self.orders["o_orderkey"][i])] = [
                m.next_hist, int(self.orders["o_custkey"][i]),
                float(self.orders["o_totalprice"][i])]
            m.next_hist += 1
        add("insert_select", "insert",
            "INSERT INTO hist (okey, cust, total) SELECT o_orderkey,"
            f" o_custkey, o_totalprice FROM tp.orders"
            f" WHERE o_orderkey BETWEEN {lo} AND {lo + 15}", count_is(16))
        r, d = int(rng.integers(0, 3)), int(rng.integers(1, 40)) * 0.25
        hit = [c for c in m.acct if c % 3 == r]
        for c in hit:
            m.acct[c][2] += d
            m.acct[c][3] = "vip"
        add("update", "update",
            f"UPDATE acct SET bal = bal + {d}, tier = 'vip'"
            f" WHERE code % 3 = {r}", count_is(len(hit)))
        gone = codes[int(rng.integers(0, 8))]
        del m.acct[gone]
        add("delete", "delete", f"DELETE FROM acct WHERE code = {gone}",
            count_is(1))
        # one MERGE source row matches (UPDATE branch), one does not
        # (INSERT branch), so every pass takes both paths
        hit_code = next(c for c in codes[:8] if c != gone)
        m.acct[hit_code][1] = f"m{hit_code}"
        new_code = codes[8]
        m.acct[new_code] = [m.next_acct, f"m{new_code}", 0.0, "std"]
        m.next_acct += 1
        add("merge", "merge",
            f"MERGE INTO acct USING (SELECT {hit_code} AS code,"
            f" 'm{hit_code}' AS name UNION ALL SELECT {new_code},"
            f" 'm{new_code}') AS u ON acct.code = u.code"
            " WHEN MATCHED THEN UPDATE SET name = u.name"
            " WHEN NOT MATCHED THEN INSERT (code, name)"
            " VALUES (u.code, u.name)", count_is(2))
        q = int(rng.integers(0, 4))
        drop = [k for k in m.hist if k % 4 == q]
        for k in drop:
            del m.hist[k]
        add("delete_hist", "delete", f"DELETE FROM hist WHERE okey % 4 = {q}",
            count_is(len(drop)))
        lid = 100_000 + p
        amt = int(rng.integers(0, 1000)) * 0.5
        add("insert_attached", "insert",
            f"INSERT INTO w.ledger (lid, acct, amt) VALUES ({lid}, 7, {amt})",
            count_is(1), attached=True)
        add("delete_attached", "delete",
            f"DELETE FROM w.ledger WHERE lid = {lid}", count_is(1),
            attached=True)
        # end-of-pass state: rows, and the AUTO_INCREMENT ids as a set
        # (a batch INSERT allocates its id block in no defined row order)
        acct_rows = canon(["code", "name", "bal", "tier"],
                          [(c, v[1], v[2], v[3]) for c, v in m.acct.items()])
        acct_ids = sorted(v[0] for v in m.acct.values())

        def acct_check(payload):
            ids = sorted(r[0] for r in payload.rows)
            rows = canon(payload.labels[1:], [r[1:] for r in payload.rows])
            return ids == acct_ids and rows == acct_rows

        add("select_acct", "select",
            "SELECT id, code, name, bal, tier FROM acct", acct_check)
        add("select_hist", "select", "SELECT okey, cust, total FROM hist",
            _payload_check(canon(
                ["okey", "cust", "total"],
                [(k, v[1], v[2]) for k, v in m.hist.items()])))
        return out


# --------------------------------------------------------------------------
# One query per operator family.  The warm-up pass pays each one's
# first-execution costs, such as the Python worker start of the UDF path
# and the streaming state store.
PIPELINE_QUERIES = [
    "mm_png_decode",  # Python-UDF path
    "stream_tumbling",  # streaming layer inside its build
    "pricing_summary",  # TPC-H aggregate
    "join_multi_revenue",  # TPC-H multi-way join
    "window_topk_per_group",  # window
    "dedup_lsh_bucket_capped",  # dedup LSH
    "sim_bruteforce_topk",  # similarity top-k
    "text_tfidf_topk",  # text tf-idf
    "text_fingerprints",  # text fingerprints
    "sketch_hll_deterministic",  # sketch
    "events_sessionize_batch",  # batch sessionize
]


class OperatorPipeline:
    """Registry queries built fresh and collected, one per operator
    family, each checked against its DuckDB oracle."""

    def __init__(self, seed: int, data: dict[str, str]):
        self.sf_dir = data["pipeline"]
        self.expected = None

    def prepare(self) -> None:
        from multisql_spark.queries import REGISTRY, load_all

        load_all()
        self.specs = {n: REGISTRY[n] for n in PIPELINE_QUERIES}
        con = _duck(_parquet_views(self.sf_dir))
        try:
            self.expected = {n: _oracle(con, s.oracle)
                             for n, s in self.specs.items()}
        finally:
            con.close()

    def setup(self, spark) -> None:
        from multisql_spark.tables import load_tables

        load_tables(spark, self.sf_dir)
        self.spark = spark

    def _stmt(self, name: str, noop: bool) -> Stmt:
        spec, sf_dir = self.specs[name], self.sf_dir

        def run(tr):
            if tr is None:
                df = spec.fn(self.spark, sf_dir)
                return df.columns, df.collect()
            # traced: the timed build + collect, then (first timed pass
            # only) engine time alone on another fresh build (noop sink),
            # which is not part of the statement's time
            tr.phase("build")
            df = spec.fn(self.spark, sf_dir)
            tr.phase("collect")
            out = df.columns, df.collect()
            if not noop:
                return out
            tr.phase("noop_build")
            noop_df = spec.fn(self.spark, sf_dir)
            tr.phase("noop")
            noop_df.write.format("noop").mode("overwrite").save()
            return out

        expected = self.expected[name]
        return Stmt(name, "query", run,
                    lambda res: canon(res[0], res[1]) == expected)

    def passes(self, start: int):
        """The registry queries take no parameters, so every pass runs the
        same list in the same order and the seed changes nothing here."""
        i = start
        while True:
            yield [self._stmt(name, noop=i == 0) for name in PIPELINE_QUERIES]
            i += 1
