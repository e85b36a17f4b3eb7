"""Seeded inputs for the benchmark: the sf0.1-sized star schema, the event
stream, the document and embedding corpora, the landing batches, and the
per-op parameter plans.

Everything here is a pure function of the seed. Tables are generated in
DuckDB from `hash(seed, row, column)`, so the same seed writes the same
parquet bytes' worth of values and another seed writes different ones.
Op plans come from `random.Random(seed)`.
"""
import json
import os
import random

import pyarrow as pa

# sf0.1 shape (TESTDATA.md): ~600k lineitem rows.
SIZES = {
    "lineitem": 600_000,
    "orders": 150_000,
    "customer": 15_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 5_000,
}
EMB_DIM = 64
DOC_WORDS = 50
N_USERS = 1000
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
DAY_NS = 86_400 * 10**9
EVENTS_START_NS = 1_704_067_200 * 10**9  # 2024-01-01 UTC
EVENTS_SPAN_NS = 30 * DAY_NS
DATE_LO, DATE_DAYS = "1995-01-01", 7 * 365  # l_shipdate / o_orderdate span

# Landing corpus: batch 0 is the stored corpus; later batches mix new
# docs, exact re-crawls and planted near-dups by slot (see landing_kind).
LAND_BATCH = 200
LAND_BATCHES = 40
LAND_BASE_NS = 1_800_000_000 * 10**9
LAND_BATCH_NS = 10**9
LAND_RETAIN_BATCHES = 2

OLAP_SHAPES = ["q1_agg", "vwap", "filter_count", "hash_multi", "grid_agg",
               "cum_agg", "window_agg", "topk", "get", "tpch_q6", "tpch_q3",
               "asof_exec", "minhash_lsh", "knn"]
# Shapes whose inputs replicate cleanly under key shifts: no positional
# series (pos would renumber) and no corpora (copies are exact duplicates).
SCALED_SHAPES = ["q1_agg", "vwap", "filter_count", "hash_multi", "topk",
                 "get", "tpch_q6", "tpch_q3", "asof_exec"]
SCALE_N = 4


def _h(seed, *cols):
    """SQL for a non-negative pseudo-random BIGINT of (seed, cols)."""
    return f"(hash({seed}, {', '.join(cols)}) % 1000000007)"


def _words_sql(seed, id_col, n_words=DOC_WORDS):
    """SQL for a document text: n_words lower-case 5-7 letter words."""
    letters = ", ".join(
        f"chr(97 + CAST({_h(seed, id_col, 'k', str(j))} % 26 AS INTEGER))"
        for j in range(7))
    word = (f"substr(concat({letters}), 1, "
            f"5 + CAST({_h(seed, id_col, 'k', '99')} % 3 AS INTEGER))")
    return (f"list_transform(range({n_words}), k -> {word})")


def write_tables(con, seed, out_dir):
    """Write the sf0.1-shaped tables as `<out_dir>/<name>.parquet` files."""
    s = int(seed)
    q = {
        "lineitem": f"""
          SELECT CAST(r // 4 AS BIGINT) AS l_orderkey,
            CAST({_h(s, 'r', '1')} % 20000 AS BIGINT) AS l_partkey,
            CAST({_h(s, 'r', '2')} % 1000 AS BIGINT) AS l_suppkey,
            CAST(r % 4 + 1 AS INTEGER) AS l_linenumber,
            CAST(1 + {_h(s, 'r', '3')} % 50 AS DOUBLE) AS l_quantity,
            round(CAST(1 + {_h(s, 'r', '3')} % 50 AS DOUBLE)
              * (900 + ({_h(s, 'r', '1')} % 20000) / 10.0), 2) AS l_extendedprice,
            CAST({_h(s, 'r', '4')} % 11 AS DOUBLE) / 100 AS l_discount,
            CAST({_h(s, 'r', '5')} % 9 AS DOUBLE) / 100 AS l_tax,
            ['A', 'N', 'R'][1 + CAST({_h(s, 'r', '6')} % 3 AS INTEGER)] AS l_returnflag,
            ['F', 'O'][1 + CAST({_h(s, 'r', '7')} % 2 AS INTEGER)] AS l_linestatus,
            TIMESTAMP '{DATE_LO}' + to_days(CAST({_h(s, 'r', '8')} % {DATE_DAYS} AS INTEGER))
              AS l_shipdate
          FROM range({SIZES['lineitem']}) t(r)""",
        "orders": f"""
          SELECT CAST(r AS BIGINT) AS o_orderkey,
            CAST({_h(s, 'r', '11')} % {SIZES['customer']} AS BIGINT) AS o_custkey,
            ['F', 'O', 'P'][1 + CAST({_h(s, 'r', '12')} % 3 AS INTEGER)] AS o_orderstatus,
            round(1000 + ({_h(s, 'r', '13')} % 50000000) / 100.0, 2) AS o_totalprice,
            TIMESTAMP '{DATE_LO}' + to_days(CAST({_h(s, 'r', '14')} % {DATE_DAYS} AS INTEGER))
              AS o_orderdate,
            ['1-URGENT', '2-HIGH', '3-MEDIUM', '4-NOT SPECIFIED', '5-LOW']
              [1 + CAST({_h(s, 'r', '15')} % 5 AS INTEGER)] AS o_orderpriority
          FROM range({SIZES['orders']}) t(r)""",
        "customer": f"""
          SELECT CAST(r AS BIGINT) AS c_custkey,
            'Customer#' || lpad(CAST(r AS VARCHAR), 9, '0') AS c_name,
            CAST({_h(s, 'r', '21')} % 25 AS INTEGER) AS c_nationkey,
            round(({_h(s, 'r', '22')} % 1100000) / 100.0 - 999.99, 2) AS c_acctbal,
            ['AUTOMOBILE', 'BUILDING', 'FURNITURE', 'HOUSEHOLD', 'MACHINERY']
              [1 + CAST({_h(s, 'r', '23')} % 5 AS INTEGER)] AS c_mktsegment
          FROM range({SIZES['customer']}) t(r)""",
        "events": f"""
          SELECT CAST(r AS BIGINT) AS event_id,
            make_timestamp(CAST(({EVENTS_START_NS} + r * ({EVENTS_SPAN_NS} // {SIZES['events']})
              + {_h(s, 'r', '31')} % 1000000000) // 1000 AS BIGINT)) AS ts,
            CAST({_h(s, 'r', '32')} % {N_USERS} AS BIGINT) AS user_id,
            {EVENT_TYPES}[1 + CAST({_h(s, 'r', '33')} % 5 AS INTEGER)] AS event_type,
            round(({_h(s, 'r', '34')} % 100000) / 100.0, 2) AS value,
            '{{"k": ' || CAST({_h(s, 'r', '35')} % 100 AS VARCHAR) || '}}' AS props
          FROM range({SIZES['events']}) t(r)""",
        # every 10th document is a near-dup of its predecessor: one word of
        # fifty replaced (5-char shingle Jaccard ~0.9), so the LSH pipeline
        # has real pairs to find and distinct docs stay far below 0.5
        "documents": f"""
          WITH base AS (SELECT r, {_words_sql(s, 'r')} AS w FROM range({SIZES['documents']}) t(r)),
          txt AS (
            SELECT b.r, CASE WHEN b.r % 10 = 9 THEN
                list_transform(p.w, (x, i) -> CASE WHEN i = 1 + {_h(s, 'b.r', '41')} % {DOC_WORDS}
                  THEN 'zq' || x ELSE x END)
              ELSE b.w END AS w
            FROM base b LEFT JOIN base p ON p.r = b.r - 1)
          SELECT CAST(r AS BIGINT) AS doc_id, array_to_string(w, ' ') AS text,
            'en' AS lang, 'src' || CAST(r % 7 AS VARCHAR) AS source,
            CAST(length(array_to_string(w, ' ')) AS BIGINT) AS n_chars
          FROM txt""",
        "embeddings": f"""
          SELECT CAST(r AS BIGINT) AS vec_id,
            list_transform(range({EMB_DIM}), k ->
              CAST(({_h(s, 'r', 'k', '51')} % 20001) / 10000.0 - 1.0 AS FLOAT)) AS embedding,
            CAST({_h(s, 'r', '52')} % 10 AS INTEGER) AS label
          FROM range({SIZES['embeddings']}) t(r)""",
    }
    for name, sql in q.items():
        con.execute(f"COPY ({sql} ORDER BY 1) TO '{out_dir}/{name}.parquet' (FORMAT PARQUET)")


def read_landing(con, data_dir):
    """The landing plan as a DuckDB relation."""
    path = os.path.join(data_dir, "landing.tsv")
    return con.sql(f"SELECT * FROM read_csv('{path}', delim='\t', header=true, quote='')")


def landing_kind(slot):
    """Planted kind of a landing slot. The last slot of a batch is always
    new, so the batch's max landed ts is known to the checker."""
    m = slot % 20
    if m < 3:
        return "recrawl"
    if m < 6:
        return "neardup"
    return "new"


def is_maint(batch):
    """Even batches after the corpus carry maintenance: retention and a
    bucket-table fold (as LandingRun.isMaint)."""
    return batch > 0 and batch % 2 == 0


def landing_ts(batch, slot):
    return LAND_BASE_NS + batch * LAND_BATCH_NS + slot * 1000


def landing_id(batch, slot):
    return batch * LAND_BATCH + slot


def landing_source(seed, batch, slot):
    """(batch, slot) of the earlier new doc that a re-crawl or near-dup
    copies. Sources lie in the retention window, so they are still stored."""
    rng = random.Random(f"{seed}:{batch}:{slot}")
    back = min(batch, LAND_RETAIN_BATCHES)
    sb = batch - 1 - rng.randrange(back)
    while True:
        ss = rng.randrange(LAND_BATCH)
        if landing_kind(ss) == "new" or sb == 0:
            return sb, ss


def write_landing(con, seed, out_dir):
    """Write the landing plan, `landing.tsv`: one row per (batch, slot) with
    its planted kind, source and text (lower-case words, no tabs). Batch 0
    is all new. Plain text, so the JVM reads it without a Spark job."""
    s = int(seed)
    rows = []
    for b in range(LAND_BATCHES):
        for i in range(LAND_BATCH):
            kind = "new" if b == 0 else landing_kind(i)
            sb, ss = (b, i) if kind == "new" else landing_source(s, b, i)
            rows.append((b, i, landing_id(b, i), landing_ts(b, i), kind,
                         landing_id(sb, ss), (s * 7919 + b * 131 + i) % DOC_WORDS))
    cols = ["batch", "slot", "id", "ts", "kind", "src", "edit"]
    plan = pa.table({c: [r[k] for r in rows] for k, c in enumerate(cols)})
    con.register("plan", plan)
    con.execute(f"""
      COPY (
        WITH w AS (SELECT id, {_words_sql(s, 'id')} AS w FROM plan WHERE kind = 'new')
        SELECT p.batch, p.id, p.ts, p.kind, p.src,
          array_to_string(CASE WHEN p.kind = 'neardup' THEN
            list_transform(w.w, (x, i) -> CASE WHEN i = 1 + p.edit THEN 'zq' || x ELSE x END)
            ELSE w.w END, ' ') AS text
        FROM plan p JOIN w ON w.id = p.src ORDER BY p.id)
      TO '{out_dir}/landing.tsv' (FORMAT CSV, DELIMITER '\t', HEADER)""")


def _window(rng, lo_day, span_days):
    start = rng.randrange(0, DATE_DAYS - span_days)
    return lo_day + start, lo_day + start + span_days


def olap_params(rng, shape, scale):
    """Seeded parameters for one op of `shape`; `scale` is the replication
    factor of the input (1 for the cached sf0.1 tables)."""
    p = {}
    if shape == "q1_agg":
        p["ship_max_day"] = rng.randrange(DATE_DAYS // 2, DATE_DAYS)
    elif shape == "vwap":
        lo = rng.randrange(0, 900)
        p["supp_lo"], p["supp_hi"] = lo, lo + rng.randrange(20, 100)
        p["day_lo"], p["day_hi"] = _window(rng, 0, rng.randrange(200, 900))
    elif shape == "filter_count":
        p["price_per_qty"] = rng.choice([900.0, 950.0, 1000.0, 1200.0, 1500.0, 1800.0])
        p["day_lo"], p["day_hi"] = _window(rng, 0, rng.randrange(100, 2000))
    elif shape == "hash_multi":
        lo = rng.randrange(0, 15000)
        p["part_lo"], p["part_hi"] = lo, lo + rng.randrange(1000, 5000)
    elif shape == "grid_agg":
        p["width"] = rng.choice([10, 25, 50, 100, 250])
        lo = rng.randrange(0, 15000)
        p["pos_lo"], p["pos_hi"] = lo, lo + rng.randrange(500, 4000)
    elif shape == "cum_agg":
        lo = rng.randrange(0, 4000)
        p["pos_lo"], p["pos_hi"] = 0, lo + rng.randrange(20, 200)
        p["emit_lo"] = lo
    elif shape == "window_agg":
        p["n"] = rng.choice([5, 10, 20, 50])
        lo = rng.randrange(0, 18000)
        p["pos_lo"], p["pos_hi"] = lo, lo + rng.randrange(50, 300)
    elif shape == "topk":
        p["k"] = rng.choice([5, 10, 25, 50, 100])
        p["desc"] = rng.random() < 0.5
        p["day_lo"], p["day_hi"] = _window(rng, 0, rng.randrange(30, 1000))
    elif shape == "get":
        start = rng.randrange(0, 29 * 24)
        p["from_ns"] = EVENTS_START_NS + start * 3600 * 10**9
        p["till_ns"] = p["from_ns"] + rng.randrange(2, 48) * 3600 * 10**9
        p["event_type"] = rng.choice(EVENT_TYPES)
    elif shape == "tpch_q6":
        p["day_lo"], p["day_hi"] = _window(rng, 0, 365)
        d = rng.randrange(2, 8)
        p["disc_lo"], p["disc_hi"] = (d - 1) / 100, (d + 1) / 100
        p["qty_max"] = rng.randrange(20, 30)
    elif shape == "tpch_q3":
        p["cut_day"] = rng.randrange(400, DATE_DAYS - 400)
        p["nation_max"] = rng.randrange(5, 10)
        p["k"] = 10
    elif shape == "asof_exec":
        lo = rng.randrange(0, N_USERS - 100) * scale
        p["user_lo"], p["user_hi"] = lo, lo + rng.randrange(20, 100) * scale
    elif shape == "minhash_lsh":
        lo = rng.randrange(0, SIZES["documents"] - 300) // 10 * 10
        p["doc_lo"], p["doc_hi"] = lo, lo + 200
    elif shape == "knn":
        p["query_id"] = rng.randrange(0, SIZES["embeddings"])
        p["k"] = rng.choice([5, 10, 20])
    return p


def olap_plan(seed, workload, n_ops):
    """The op sequence: shapes cycle in seeded decks (every deck holds each
    shape once, in a seeded order), so any prefix keeps the mix even."""
    rng = random.Random(f"{seed}:{workload}")
    shapes = SCALED_SHAPES if workload == "olap_scaled" else OLAP_SHAPES
    scale = SCALE_N if workload == "olap_scaled" else 1
    ops = []
    while len(ops) < n_ops:
        deck = list(shapes)
        rng.shuffle(deck)
        for s in deck:
            ops.append({"id": len(ops), "shape": s, "p": olap_params(rng, s, scale)})
    return ops[:n_ops]


def write_plan(path, ops):
    with open(path, "w") as f:
        for op in ops:
            f.write(json.dumps(op, sort_keys=True) + "\n")
