"""Seeded inputs and statement plans for the benchmark workloads.

Every input is a function of the seed: the dashboard tables are derived from
TPC-H sf0.1 (DuckDB's built-in generator) with seeded perturbations, the
ingest base events are drawn from seeded hashes, and each client's statement
list is drawn from a seeded generator. The mix of statement kinds per run is
fixed; the seed draws parameters, order and block sizes, so runs at
different seeds do the same amount of work.

Each dashboard read carries two texts: the ClickHouse dialect sent to the
engine and a DuckDB twin the oracle runs over the same parquet inputs.
"""

import bisect
import datetime as dt
import os
import random

WORKLOADS = ("dashboard", "ingest")

# ---- inputs -----------------------------------------------------------------

# (name, DuckDB projection over the dbgen table, CH column DDL)
_DIMS = {
    "nation": ("SELECT n_nationkey, n_name, n_regionkey FROM nation",
               "n_nationkey Int64, n_name String, n_regionkey Int64"),
    "customer": ("SELECT c_custkey, c_nationkey, c_mktsegment, "
                 "CAST(c_acctbal AS DECIMAL(12,2)) AS c_acctbal FROM customer",
                 "c_custkey Int64, c_nationkey Int64, c_mktsegment String, "
                 "c_acctbal Decimal(12,2)"),
}

_ORDERS_DDL = ("o_orderkey Int64, o_custkey Int64, o_orderstatus String, "
               "o_totalprice Decimal(12,2), o_orderdate Date, "
               "o_orderpriority String")

D0, D1 = dt.date(1995, 1, 1), dt.date(1997, 1, 1)

# events every ingest set-up loads into each event table before the
# clients start: real loading, so set-up time is not just catalog round trips
INGEST_BASE_ROWS = 25000


def _tpch(cache_dir):
    """A DuckDB database holding TPC-H sf0.1, generated once per checkout
    (it does not depend on the seed)."""
    import duckdb
    path = os.path.join(cache_dir, "tpch-sf0.1.duckdb")
    if not os.path.exists(path):
        os.makedirs(cache_dir, exist_ok=True)
        tmp = f"{path}.{os.getpid()}"
        con = duckdb.connect(tmp)
        con.execute("SET threads TO 2")
        con.execute("CALL dbgen(sf=0.1)")
        con.close()
        os.replace(tmp, path)
    con = duckdb.connect(path, read_only=True)
    con.execute("SET threads TO 2")
    return con


def make_inputs(workload, seed, out_dir, cache_dir):
    """Write the workload's parquet inputs under out_dir; return the table
    names and, for ingest, the row count and sum(v) of the base events."""
    import duckdb
    os.makedirs(out_dir, exist_ok=True)
    if workload == "ingest":
        # same distributions as the clients' blocks (perfbench.Events)
        path = os.path.join(out_dir, "ev_base.parquet")
        con = duckdb.connect()
        con.execute("SET threads TO 2")
        con.execute(
            "COPY (SELECT (a * a // 1000)::BIGINT AS k, "
            f"to_timestamp(1704067200 + (hash(i, {seed}, 1) % 7776000)::BIGINT) "
            f"AS ts, (hash(i, {seed}, 2) % 1000)::BIGINT AS v, "
            f"'s' || (hash(i, {seed}, 3) % 50)::VARCHAR AS s FROM (SELECT i, "
            f"(hash(i, {seed}) % 1000)::BIGINT AS a FROM range({INGEST_BASE_ROWS}) "
            f"t(i))) TO '{path}' (FORMAT parquet)")
        rows, sum_v = con.execute(
            f"SELECT count(*), sum(v)::BIGINT FROM '{path}'").fetchone()
        con.close()
        return [], {"rows": rows, "sum_v": sum_v}
    con = _tpch(cache_dir)

    def copy(name, sql):
        path = os.path.join(out_dir, name + ".parquet")
        con.execute(f"COPY ({sql}) TO '{path}' (FORMAT parquet)")

    # orders: dates shifted by a seeded -3..3 days, prices by -2..2 %; the
    # dashboard keeps the two years it charts (24 monthly partitions)
    copy("orders",
         "SELECT * FROM (SELECT o_orderkey, o_custkey, o_orderstatus, "
         "CAST(o_totalprice * (1 + ((hash(o_orderkey, "
         f"{seed}) % 5)::INT - 2) / 100.0) AS DECIMAL(12,2)) "
         "AS o_totalprice, "
         f"o_orderdate + ((hash(o_orderkey, {seed} + 1) % 7)::INT - 3) "
         f"AS o_orderdate, o_orderpriority FROM orders) "
         f"WHERE o_orderdate >= DATE '{D0}' AND o_orderdate < DATE '{D1}'")
    names = ["orders"]
    for name in _DIMS:
        copy(name, _DIMS[name][0])
        names.append(name)
    con.close()
    return names, None


def oracle_views(con, in_dir, names):
    for n in names:
        con.execute(f"CREATE VIEW {n} AS SELECT * FROM "
                    f"'{os.path.join(in_dir, n + '.parquet')}'")


# ---- statement plans ----------------------------------------------------------

class Zipf:
    """Zipf(s) draws over a fixed domain: low ranks repeat, the tail does not."""

    def __init__(self, domain, s=1.1):
        self.domain = list(domain)
        acc, self.cum = 0.0, []
        for r in range(len(self.domain)):
            acc += 1.0 / (r + 1) ** s
            self.cum.append(acc)

    def draw(self, rng):
        return self.domain[bisect.bisect_left(self.cum,
                                              rng.random() * self.cum[-1])]


def _day(d0, n):
    return (d0 + dt.timedelta(days=n)).isoformat()


def _read(sql, duck, template, expect=None):
    st = {"kind": "read", "template": template, "sql": sql}
    if expect is not None:
        st["expect"] = expect
    else:
        st["duck"] = duck
    return st


def _ctas(name, cols, keys):
    """Create and load a table from its parquet input in one statement."""
    return (f"CREATE TABLE {name} ({cols}) ENGINE = MergeTree {keys} AS "
            f"SELECT * FROM file('{name}.parquet', 'Parquet')")


# the view and dictionary of the dashboard: declared in the set-up, and again
# by every client connection before it warms up (see make_plan)
VIEW_DDL = ("CREATE VIEW IF NOT EXISTS big_orders AS SELECT o_orderkey, "
            "o_custkey, o_totalprice, o_orderdate FROM orders "
            "WHERE o_totalprice > 250000")
DICT_DDL = ("CREATE DICTIONARY IF NOT EXISTS nation_dict (n_nationkey Int64, "
            "n_name String) PRIMARY KEY n_nationkey "
            "SOURCE(CLICKHOUSE(TABLE 'nation'))")


def ev_tables(client):
    """The event tables one ingest client writes and reads: plain, partitioned
    (MV source) and the MV target."""
    return f"ev_plain_{client}", f"ev_part_{client}", f"ev_sum_{client}"


def _setup(workload, clients):
    """CH DDL + loads of one set-up, run in a fresh database."""
    if workload == "dashboard":
        return [_ctas(n, _DIMS[n][1], f"ORDER BY {_DIMS[n][1].split()[0]}")
                for n in _DIMS] + [
            DICT_DDL,
            f"CREATE TABLE orders ({_ORDERS_DDL}) ENGINE = MergeTree "
            "PARTITION BY toYYYYMM(o_orderdate) ORDER BY (o_custkey, o_orderkey)",
            "CREATE TABLE daily_sales (d Date, n UInt64, rev Decimal(18,2)) "
            "ENGINE = SummingMergeTree ORDER BY d",
            "CREATE MATERIALIZED VIEW daily_mv TO daily_sales AS SELECT "
            "o_orderdate AS d, count() AS n, sum(o_totalprice) AS rev "
            "FROM orders GROUP BY o_orderdate",
            "INSERT INTO orders SELECT * FROM file('orders.parquet', 'Parquet')",
            VIEW_DDL,
            "CREATE TABLE audit (client Int32, seq Int32, event String) "
            "ENGINE = MergeTree ORDER BY (client, seq)",
        ]
    out = []
    for c in range(clients):
        plain, part, summ = ev_tables(c)
        out += [
            f"CREATE TABLE {plain} (k Int64, ts DateTime, v Int64, s String) "
            "ENGINE = MergeTree ORDER BY (k, ts)",
            f"CREATE TABLE {part} (k Int64, ts DateTime, v Int64, s String) "
            "ENGINE = MergeTree PARTITION BY toYYYYMM(ts) ORDER BY (k, ts)",
            f"CREATE TABLE {summ} (k Int64, n UInt64, sv Int64) "
            "ENGINE = SummingMergeTree ORDER BY k",
            f"CREATE MATERIALIZED VIEW ev_mv_{c} TO {summ} AS SELECT k, "
            f"count() AS n, sum(v) AS sv FROM {part} GROUP BY k",
            f"INSERT INTO {plain} SELECT * FROM file('ev_base.parquet', 'Parquet')",
            f"INSERT INTO {part} SELECT * FROM file('ev_base.parquet', 'Parquet')",
        ]
    return out


def _defect_probes(workload, db):
    """Statements the engine answers wrongly today, run after the window on
    a connection that has declared nothing. Each run reports their outcome
    (meta.engine_defects) beside its checked result; they are not part of
    the measured mix, and "correct" does not count them."""
    if workload == "ingest":
        # a connection reads a table, another inserts 10 rows into it, the
        # first reads again and must see them (see Main.scala)
        return [{"name": "read_sees_other_connections_inserts",
                 "kind": "freshness"}]
    return [
        # the same shapes as the view_read and nation_dict reads, which
        # pass on the connection that declared the view and dictionary
        {"name": "view_on_other_connection", "kind": "rows",
         "sql": "SELECT count() AS n, sum(o_totalprice) AS rev FROM big_orders",
         "duck": "SELECT count(*), sum(o_totalprice) FROM orders "
                 "WHERE o_totalprice > 250000"},
        {"name": "dictionary_on_other_connection", "kind": "rows",
         "sql": "SELECT c_nationkey, dictGet('nation_dict', 'n_name', "
                "c_nationkey) AS nation FROM customer WHERE c_custkey = 1",
         "duck": "SELECT c_nationkey, n_name FROM customer JOIN nation "
                 "ON n_nationkey = c_nationkey WHERE c_custkey = 1"},
        {"name": "system_tables_lists_view", "kind": "rows",
         "sql": f"SELECT name FROM system.tables WHERE database = '{db}' "
                "AND name = 'big_orders'",
         "expect": [["big_orders"]]},
    ]


SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
# the tables of the dashboard set-up, the answer system.tables must give
DASH_TABLES = ["audit", "customer", "daily_sales", "nation", "orders"]


def _dashboard_stmt(template, rng, z, db):
    """One dashboard read: short, <= 1k rows, parameters Zipf-skewed."""
    if template == "cust_orders":
        c = z["cust"].draw(rng)
        sql = ("SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate "
               f"FROM orders WHERE o_custkey = {c} ORDER BY o_orderkey")
        return _read(sql, sql, template)
    if template in ("day_range", "status_totals", "mv_days"):
        d = z["day"].draw(rng)
        lo, hi = _day(D0, d), _day(D0, d + 7)
        if template == "day_range":
            return _read(
                "SELECT o_orderdate, count() AS n, sum(o_totalprice) AS rev "
                f"FROM orders WHERE o_orderdate >= toDate('{lo}') AND "
                f"o_orderdate < toDate('{hi}') GROUP BY o_orderdate "
                "ORDER BY o_orderdate",
                "SELECT o_orderdate, count(*), sum(o_totalprice) FROM orders "
                f"WHERE o_orderdate >= DATE '{lo}' AND o_orderdate < DATE '{hi}' "
                "GROUP BY o_orderdate", template)
        if template == "status_totals":
            return _read(
                "SELECT o_orderstatus, count() AS n, sum(o_totalprice) AS rev "
                f"FROM orders WHERE o_orderdate >= toDate('{lo}') AND "
                f"o_orderdate < toDate('{hi}') GROUP BY o_orderstatus "
                "WITH TOTALS ORDER BY o_orderstatus",
                "SELECT o_orderstatus, count(*), sum(o_totalprice) FROM orders "
                f"WHERE o_orderdate >= DATE '{lo}' AND o_orderdate < DATE '{hi}' "
                "GROUP BY GROUPING SETS ((o_orderstatus), ())", template)
        return _read(
            "SELECT d, sum(n) AS n, sum(rev) AS rev FROM daily_sales "
            f"WHERE d >= toDate('{lo}') AND d < toDate('{hi}') GROUP BY d "
            "ORDER BY d",
            "SELECT o_orderdate, count(*), sum(o_totalprice) FROM orders "
            f"WHERE o_orderdate >= DATE '{lo}' AND o_orderdate < DATE '{hi}' "
            "GROUP BY o_orderdate", template)
    if template == "priority_top":
        m = z["month"].draw(rng)
        ym = (D0.year + m // 12) * 100 + m % 12 + 1
        return _read(
            "SELECT o_orderpriority, o_orderstatus, count() AS n FROM orders "
            f"WHERE toYYYYMM(o_orderdate) = {ym} GROUP BY o_orderpriority, "
            "o_orderstatus ORDER BY o_orderpriority, n DESC, o_orderstatus "
            "LIMIT 1 BY o_orderpriority",
            "SELECT o_orderpriority, o_orderstatus, n FROM (SELECT "
            "o_orderpriority, o_orderstatus, count(*) AS n FROM orders WHERE "
            f"year(o_orderdate) * 100 + month(o_orderdate) = {ym} GROUP BY ALL) "
            "QUALIFY row_number() OVER (PARTITION BY o_orderpriority "
            "ORDER BY n DESC, o_orderstatus) = 1", template)
    if template == "nation_dict":
        seg = z["seg"].draw(rng)
        return _read(
            "SELECT c_nationkey, dictGet('nation_dict', 'n_name', c_nationkey) "
            "AS nation, count() AS n, sum(c_acctbal) AS bal FROM customer "
            f"WHERE c_mktsegment = '{seg}' GROUP BY c_nationkey "
            "ORDER BY c_nationkey",
            "SELECT c_nationkey, n_name, count(*), sum(c_acctbal) FROM customer "
            f"JOIN nation ON n_nationkey = c_nationkey WHERE c_mktsegment = "
            f"'{seg}' GROUP BY c_nationkey, n_name", template)
    if template == "view_read":
        c = z["cust"].draw(rng) // 100 * 100
        return _read(
            "SELECT count() AS n, sum(o_totalprice) AS rev FROM big_orders "
            f"WHERE o_custkey BETWEEN {c} AND {c + 99}",
            "SELECT count(*), sum(o_totalprice) FROM orders WHERE "
            f"o_totalprice > 250000 AND o_custkey BETWEEN {c} AND {c + 99}",
            template)
    if template == "sys_parts":
        t = z["table"].draw(rng)
        return _read(
            "SELECT sum(rows) AS r FROM system.parts WHERE "
            f"database = '{db}' AND `table` = '{t}'",
            f"SELECT count(*) FROM {t}", template)
    # sys_tables: the expected answer is the set of tables the set-up made
    k = 1 + z["ntables"].draw(rng)
    names = DASH_TABLES[:k]
    quoted = ", ".join(f"'{n}'" for n in names)
    return _read(
        f"SELECT name FROM system.tables WHERE database = '{db}' AND "
        f"name IN ({quoted}) ORDER BY name", None, template,
        expect=[[n] for n in names])


DASH_TEMPLATES = ["cust_orders", "day_range", "status_totals", "mv_days",
                  "priority_top", "nation_dict", "view_read", "sys_parts",
                  "sys_tables"]


def _dashboard_client(rng, z, db, client, n_rounds, warm):
    """Closed-loop dashboard refreshes: an audit row that logs the start of
    the refresh, every panel once (the customer panel twice), and an audit
    row that logs its end. The audit rows are the workload's only writes (2
    statements in 12, about 3% of its time), kept so that its insert metrics
    exist; at one row per refresh the median of 4 inserts a run spread 0.17
    (IQR/median over 10 seeds)."""
    out = []
    for r in range(n_rounds):
        order = DASH_TEMPLATES + ["cust_orders"]
        rng.shuffle(order)
        seq = 2 * ((1000 if warm else 0) + r)
        out.append({"kind": "insert_values", "table": "audit", "rows": 1,
                    "sql": f"INSERT INTO audit VALUES ({client}, {seq}, 'start')"})
        out += [_dashboard_stmt(t, rng, z, db) for t in order]
        out.append({"kind": "insert_values", "table": "audit", "rows": 1,
                    "sql": f"INSERT INTO audit VALUES ({client}, {seq + 1}, 'done')"})
    return out


# block sizes of one ingest client: a fixed log-spaced multiset 1..10k,
# shuffled by the seed, so every seed ingests the same number of rows
def _block_sizes(n):
    return [max(1, round(10 ** (4 * (i + 0.5) / n))) for i in range(n)]


def _ingest_client(rng, client, n_steps, warm):
    """Inserts of skewed size, 3 in 5 into the client's plain table and 2 in 5
    into its partitioned one; every fifth step reads both base counts and the
    MV total. Each client writes and reads its own tables: a connection does
    not see rows other connections insert into a table it has already read
    (an engine defect the freshness probe reports on every run)."""
    plain, part, summ = ev_tables(client)
    n_checks = n_steps // 5
    n_ins = n_steps - n_checks
    sizes = _block_sizes(n_ins)
    rng.shuffle(sizes)
    n_part = n_ins * 2 // 5
    tables = [part] * n_part + [plain] * (n_ins - n_part)
    rng.shuffle(tables)
    # `table` of a read is the table whose acknowledged rows it must see
    reads = [{"kind": "read_count", "template": "count_ev_plain", "table": plain,
              "sql": f"SELECT count() FROM {plain}"},
             {"kind": "read_count", "template": "count_ev_part", "table": part,
              "sql": f"SELECT count() FROM {part}"},
             {"kind": "read_count", "template": "mv_final", "table": part,
              "sql": f"SELECT ifNull(sum(n), 0) AS n FROM {summ} FINAL"}]
    out, ins = [], 0
    for i in range(n_steps):
        if i % 5 == 4:
            k = (i // 5 + client) % 3
            out.extend(reads[k:] + reads[:k])
            continue
        rows, table = sizes[ins], tables[ins]
        # small blocks go as SQL text, large ones as native blocks
        kind = "insert_values" if rows <= 200 and ins % 2 == 0 else "insert_native"
        out.append({"kind": kind, "template": table.rsplit("_", 1)[0],
                    "table": table, "rows": rows, "gen": rng.getrandbits(62)})
        ins += 1
    if client == 0 and not warm:
        # one client merges its partitioned table twice during the run
        for pos in range(len(out) * 2 // 3, 0, -(len(out) // 3)):
            out.insert(pos, {"kind": "optimize", "template": "optimize",
                             "table": part,
                             "sql": f"OPTIMIZE TABLE {part} FINAL"})
    return out


# connections per workload (never more than the machine has cores). Fewer
# than cores, because on a 4-core box queueing behind each other's Spark tasks
# widened the run-to-run spread: at four ingest connections it doubled, and
# dashboard's latencies spread 0.17-0.21 (IQR/median over 5 seeds) at two
# connections against 0.10-0.13 at one
CLIENTS = {"dashboard": 1, "ingest": 2}

# work per client per second of --seconds: dashboard refreshes, ingest steps
# (fixed work: on a 4-core box the measured window lasts 1.4 to 1.9 times
# --seconds)
WORK_PER_S = {"dashboard": 0.4, "ingest": 3.0}

# set-ups per run; setup_s is their median. The first runs on a JIT-cold
# engine and is the slowest, so the (lower) median of four is the median of
# the three warm ones
SETUP_REPEATS = {"dashboard": 3, "ingest": 3}

# statements of a traced run: (reads, writes) sampled from the measured lists
TRACE_SAMPLE = {"dashboard": (12, 2), "ingest": (3, 8)}


def make_plan(workload, seed, seconds, clients, trace, base=None):
    rng = random.Random(f"{workload}:{seed}")
    db = "pb_main"
    plan = {"workload": workload, "seed": seed, "db": db,
            "setup": _setup(workload, clients),
            "setup_repeats": SETUP_REPEATS[workload],
            "clients": [], "warmup": [], "session": [],
            "defect_probes": _defect_probes(workload, db)}
    if workload == "dashboard":
        z = {"cust": Zipf(range(1, 15001)), "day": Zipf(range(0, 720, 3)),
             "month": Zipf(range(0, 24)), "seg": Zipf(SEGMENTS),
             "table": Zipf(["orders", "customer", "nation"]),
             "ntables": Zipf(range(len(DASH_TABLES)))}
        # the engine keeps a view or dictionary in the connection that
        # declared it (the defect probes report this on every run), so each
        # client declares both before it warms up, outside the window
        plan["session"] = [VIEW_DDL, DICT_DDL]
        rounds = max(1, round(WORK_PER_S[workload] * seconds))
        for c in range(clients):
            crng = random.Random(rng.getrandbits(64))
            # one refresh of every panel per client before the window
            plan["warmup"].append(_dashboard_client(crng, z, db, c, 1, True))
            plan["clients"].append(_dashboard_client(crng, z, db, c, rounds, False))
    else:
        # the set-up loads the base events into every event table
        plan["base"] = {t: base for c in range(clients) for t in ev_tables(c)[:2]}
        plan["mv"] = [list(ev_tables(c)[1:]) for c in range(clients)]
        n = max(5, round(WORK_PER_S[workload] * seconds))
        for c in range(clients):
            crng = random.Random(rng.getrandbits(64))
            plan["warmup"].append(_ingest_client(crng, c, 5, True)[2:5])
            plan["clients"].append(_ingest_client(crng, c, n, False))
    if trace:
        # a seeded sample of the measured statements, replayed serially
        trng = random.Random(rng.getrandbits(64))
        pool = [s for cl in plan["clients"] for s in cl]
        reads = [s for s in pool if s["kind"].startswith("read")]
        writes = [s for s in pool if not s["kind"].startswith("read")]
        nr, nw = TRACE_SAMPLE[workload]
        sample = (trng.sample(reads, min(nr, len(reads)))
                  + trng.sample(writes, min(nw, len(writes))))
        trng.shuffle(sample)
        plan["trace"] = [sample]
    return plan
