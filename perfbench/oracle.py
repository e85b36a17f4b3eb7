"""Correctness checks, run after the measured window.

olap ops are replayed in DuckDB with the same seeded parameters and
compared after canonicalisation (columns sorted by name, rows sorted,
doubles compared at float precision), as tools/check.py does. Landing
results are checked against the generator's plan.
"""
import math

import datagen

NORM = "lower(trim(regexp_replace(text, '[^A-Za-z0-9]+', ' ', 'g')))"


def _day(d):
    return f"(TIMESTAMP '{datagen.DATE_LO}' + to_days({int(d)}))"


def make_views(con, data_dir, scale):
    """Views named like the tables the ops read. scale > 1 replicates the
    star schema and events with the key shifts the JVM side applies."""
    for t in ["lineitem", "orders", "customer", "events", "documents", "embeddings"]:
        con.execute(f"CREATE OR REPLACE VIEW base_{t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    n = int(scale)
    shifts = {
        "lineitem": ["l_orderkey"],
        "orders": ["o_orderkey", "o_custkey"],
        "customer": ["c_custkey"],
        "events": ["event_id", "user_id"],
    }
    for t in ["lineitem", "orders", "customer", "events"]:
        if n == 1:
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM base_{t}")
        else:
            rep = ", ".join(f"{c} * {n} + rep AS {c}" for c in shifts[t])
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * REPLACE ({rep}) "
                        f"FROM base_{t}, range({n}) r(rep)")
    for t in ["documents", "embeddings"]:
        con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM base_{t}")
    con.execute("""CREATE OR REPLACE TABLE events_pos AS SELECT *,
        row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) - 1 AS pos
        FROM events""")


def sql(shape, p):
    """DuckDB SQL computing what the Spark op computes."""
    if shape == "q1_agg":
        return f"""SELECT l_returnflag, l_linestatus,
            CAST(sum(l_quantity) AS REAL) AS sum_qty,
            CAST(sum(l_extendedprice) AS REAL) AS sum_base_price,
            CAST(sum(l_extendedprice * (1 - l_discount)) AS REAL) AS sum_disc_price,
            CAST(sum(l_quantity * l_extendedprice) / sum(l_quantity) AS REAL) AS wavg_price,
            CAST(avg(l_discount) AS REAL) AS avg_disc, count(*) AS count_order
          FROM lineitem WHERE l_shipdate <= {_day(p['ship_max_day'])} GROUP BY 1, 2"""
    if shape == "vwap":
        return f"""SELECT l_suppkey,
            CAST(sum(l_quantity * l_extendedprice) / sum(l_quantity) AS REAL) AS vwap
          FROM lineitem WHERE l_suppkey >= {p['supp_lo']} AND l_suppkey < {p['supp_hi']}
            AND l_shipdate >= {_day(p['day_lo'])} AND l_shipdate < {_day(p['day_hi'])}
          GROUP BY 1"""
    if shape == "filter_count":
        return f"""SELECT count(*) AS n FROM lineitem
          WHERE l_extendedprice > l_quantity * {p['price_per_qty']!r}
            AND l_shipdate >= {_day(p['day_lo'])} AND l_shipdate < {_day(p['day_hi'])}"""
    if shape == "hash_multi":
        return f"""SELECT l_returnflag, l_linestatus, year(l_shipdate) AS ship_year,
            count(*) AS n, CAST(sum(l_extendedprice) AS REAL) AS sum_price,
            CAST(avg(l_discount) AS REAL) AS avg_disc,
            CAST(min(l_quantity) AS REAL) AS min_qty, CAST(max(l_quantity) AS REAL) AS max_qty,
            CAST(bit_and(l_partkey) AS BIGINT) AS ha_all, CAST(bit_or(l_partkey) AS BIGINT) AS ha_any
          FROM lineitem WHERE l_partkey >= {p['part_lo']} AND l_partkey < {p['part_hi']}
          GROUP BY 1, 2, 3"""
    if shape == "grid_agg":
        return f"""SELECT event_type, CAST(floor(pos / {p['width']}) AS BIGINT) AS grid,
            count(*) AS grid_count, CAST(sum("value") AS REAL) AS grid_sum,
            CAST(min("value") AS REAL) AS grid_min, CAST(max("value") AS REAL) AS grid_max,
            CAST(var_pop("value") AS REAL) AS grid_var
          FROM events_pos WHERE pos >= {p['pos_lo']} AND pos < {p['pos_hi']} GROUP BY 1, 2"""
    if shape == "cum_agg":
        return f"""SELECT event_type, pos,
            CAST(sum("value") OVER w AS REAL) AS cum_sum,
            CAST(min("value") OVER w AS REAL) AS cum_min,
            CAST(max("value") OVER w AS REAL) AS cum_max, count(*) OVER w AS cum_count
          FROM events_pos WINDOW w AS (PARTITION BY event_type ORDER BY pos
            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
          QUALIFY pos >= {p['emit_lo']} AND pos < {p['pos_hi']}"""
    if shape == "window_agg":
        return f"""SELECT event_type, pos,
            CAST(sum("value") OVER w AS REAL) AS w_sum,
            CAST(min("value") OVER w AS REAL) AS w_min,
            CAST(max("value") OVER w AS REAL) AS w_max
          FROM events_pos WINDOW w AS (PARTITION BY event_type ORDER BY pos
            ROWS BETWEEN {p['n'] - 1} PRECEDING AND CURRENT ROW)
          QUALIFY pos >= {p['pos_lo']} AND pos < {p['pos_hi']}"""
    if shape == "topk":
        d = "DESC" if p["desc"] else "ASC"
        return f"""SELECT o_orderkey, CAST(o_totalprice AS REAL) AS o_totalprice FROM orders
          WHERE o_orderdate >= {_day(p['day_lo'])} AND o_orderdate < {_day(p['day_hi'])}
          ORDER BY o_totalprice {d}, o_orderkey ASC LIMIT {p['k']}"""
    if shape == "get":
        return f"""SELECT event_id, user_id, CAST("value" AS REAL) AS value FROM events
          WHERE event_type = '{p['event_type']}' AND epoch_ns(ts) >= {p['from_ns']}
            AND epoch_ns(ts) < {p['till_ns']}"""
    if shape == "tpch_q6":
        return f"""SELECT CAST(sum(l_extendedprice * l_discount) AS REAL) AS revenue, count(*) AS n
          FROM lineitem WHERE l_shipdate >= {_day(p['day_lo'])} AND l_shipdate < {_day(p['day_hi'])}
            AND l_discount BETWEEN {p['disc_lo']!r} AND {p['disc_hi']!r}
            AND l_quantity < {p['qty_max']}"""
    if shape == "tpch_q3":
        return f"""SELECT o_orderkey,
            CAST(sum(l_extendedprice * (1 - l_discount)) AS REAL) AS revenue, o_orderpriority
          FROM customer JOIN orders ON c_custkey = o_custkey
            JOIN lineitem ON l_orderkey = o_orderkey
          WHERE c_nationkey < {p['nation_max']} AND o_orderdate < {_day(p['cut_day'])}
            AND l_shipdate > {_day(p['cut_day'])}
          GROUP BY o_orderkey, o_orderdate, o_orderpriority
          ORDER BY revenue DESC, o_orderkey LIMIT {p['k']}"""
    if shape == "asof_exec":
        users = f"user_id >= {p['user_lo']} AND user_id < {p['user_hi']}"
        return f"""SELECT l.user_id, l.event_id, CAST(l."value" AS REAL) AS value,
            CAST(r."value" AS REAL) AS asof_value
          FROM (SELECT * FROM events WHERE event_type = 'purchase' AND {users}) l
          ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'signup' AND {users}) r
          ON l.user_id = r.user_id AND l.ts >= r.ts"""
    if shape == "minhash_lsh":
        n = 5
        return f"""WITH d AS (SELECT doc_id, {NORM} AS norm FROM documents
              WHERE doc_id >= {p['doc_lo']} AND doc_id < {p['doc_hi']}),
          sh AS (SELECT doc_id, list_distinct(list_filter(
              [substr(norm, i, {n}) FOR i IN range(1, greatest(len(norm) - {n - 2}, 2))],
              x -> len(x) = {n})) AS s FROM d),
          sh2 AS (SELECT doc_id, s FROM sh WHERE len(s) > 0),
          inv AS (SELECT doc_id, unnest(s) AS g FROM sh2),
          cand AS (SELECT x.doc_id AS id1, y.doc_id AS id2, count(*) AS inter
            FROM inv x JOIN inv y ON x.g = y.g AND x.doc_id < y.doc_id GROUP BY 1, 2),
          sz AS (SELECT doc_id, len(s) AS ssz FROM sh2)
          SELECT id1, id2, CAST(CAST(inter AS DOUBLE) / (s1.ssz + s2.ssz - inter) AS REAL) AS jaccard
          FROM cand JOIN sz s1 ON s1.doc_id = id1 JOIN sz s2 ON s2.doc_id = id2
          WHERE CAST(inter AS DOUBLE) / (s1.ssz + s2.ssz - inter) >= 0.5"""
    if shape == "knn":
        return f"""WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings
              WHERE vec_id = {p['query_id']}),
          p AS (SELECT e.vec_id, unnest(CAST(e.embedding AS DOUBLE[])) AS x, unnest(q.qe) AS y
            FROM embeddings e, q),
          c AS (SELECT vec_id, CAST(sum(x * y) / (sqrt(sum(x * x)) * sqrt(sum(y * y))) AS REAL) AS cosine
            FROM p GROUP BY vec_id)
          SELECT vec_id, cosine FROM c ORDER BY cosine DESC, vec_id ASC LIMIT {p['k']}"""
    raise ValueError(f"unknown shape {shape}")


def _canon_value(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else v
    return v


def canon(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(_canon_value(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((x is None, str(x) if not isinstance(x, (int, float)) else "",
                                  x if isinstance(x, (int, float)) else 0) for x in t))
    return [cols[i] for i in order], out


def _eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        if isinstance(a, float) or isinstance(b, float):
            if a != a and b != b:
                return True
            # float-cast values: engines may sum in different orders
            return math.isclose(a, b, rel_tol=1e-6, abs_tol=1e-6)
        return a == b
    return str(a) == str(b)


def compare(got_cols, got_rows, exp_cols, exp_rows):
    """None when equal, else a one-line reason."""
    gc, gr = canon(list(got_cols), [list(r) for r in got_rows])
    ec, er = canon(list(exp_cols), [list(r) for r in exp_rows])
    if gc != ec:
        return f"columns {gc} != {ec}"
    if len(gr) != len(er):
        return f"rows {len(gr)} != {len(er)}"
    for i, (a, b) in enumerate(zip(gr, er)):
        if len(a) != len(b) or not all(_eq(x, y) for x, y in zip(a, b)):
            return f"row {i}: {a} != {b}"
    return None


def check_olap(con, checks, plan_by_id):
    """Replays each sampled op in DuckDB; returns the list of mismatches."""
    bad = []
    for c in checks:
        op = plan_by_id[c["id"]]
        cur = con.execute(sql(op["shape"], op["p"]))
        exp_cols = [d[0] for d in cur.description]
        why = compare(c["cols"], c["rows"], exp_cols, cur.fetchall())
        if why:
            bad.append(f"op {c['id']} {op['shape']}: {why}")
    return bad


def landing_plan(con, data_dir):
    """id -> (batch, kind) for every planned landing doc."""
    rows = datagen.read_landing(con, data_dir).project("id, batch, kind").fetchall()
    return {i: (b, k) for i, b, k in rows}


def check_reader(plan, rc):
    """A reader op scanned batches [c - W + 1, c + 1], committed through c
    when it started: every new doc of a committed batch is present, batch
    c + 1 (landing during the read) is all-or-nothing, and no row is a
    re-crawl, a duplicate or outside the span."""
    c, w, ids = rc["committed"], rc["window"], rc["ids"]
    if len(set(ids)) != len(ids):
        return f"reader op {rc['id']}: duplicate rows"
    lo = c - w + 1
    got = {}
    for i in ids:
        b, k = plan.get(i, (None, None))
        if b is None or b < lo or b > c + 1:
            return f"reader op {rc['id']}: row {i} outside the scanned span"
        if k == "recrawl":
            return f"reader op {rc['id']}: re-crawl {i} visible"
        got.setdefault(b, set()).add(i)
    for b in range(max(lo, 0), c + 2):
        new = {i for i in range(b * datagen.LAND_BATCH, (b + 1) * datagen.LAND_BATCH)
               if plan.get(i, (None, None))[1] == "new"}
        have = got.get(b, set()) & new
        if b <= c and have != new:
            return f"reader op {rc['id']}: committed batch {b} missing {len(new - have)} docs"
        if b == c + 1 and have and have != new:
            return f"reader op {rc['id']}: batch {b} half visible"
    return None


def check_landing(plan, final_ids, first_batch, committed):
    """Checks the doc table at the end; returns (mismatches, retained
    batches, dedup recall over them, drop share over them)."""
    bad = []
    if len(set(final_ids)) != len(final_ids):
        bad.append("doc table holds duplicate ids")
    last_maint = max((b for b in range(1, committed + 1) if datagen.is_maint(b)), default=None)
    first = 0 if last_maint is None else max(0, last_maint - datagen.LAND_RETAIN_BATCHES + 1)
    present = set(final_ids)
    kept = [i for i, (b, _) in plan.items() if first <= b <= committed]
    new = {i for i in kept if plan[i][1] == "new"}
    dups = {i for i in kept if plan[i][1] != "new" and plan[i][0] >= 1}
    if new - present:
        bad.append(f"{len(new - present)} distinct docs dropped or lost")
    recrawled = {i for i in present if plan.get(i, (0, ""))[1] == "recrawl"}
    if recrawled:
        bad.append(f"{len(recrawled)} exact re-crawls landed")
    outside = {i for i in present if i not in plan or not first <= plan[i][0] <= committed}
    if outside:
        bad.append(f"{len(outside)} docs outside the retained batches {first}..{committed}")
    recall = 1 - len(dups & present) / len(dups) if dups else 1.0
    offered = [i for i in kept if plan[i][0] >= 1]
    drop = 1 - len(present & set(offered)) / len(offered) if offered else 0.0
    return bad, (first, committed), recall, drop
