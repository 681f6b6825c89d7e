"""Seeded inputs for the graft benchmark.

Everything a run reads is made here from the workload seed: the
parquet tables, the statement catalogue and its order, the change
stream, and the curation corpus. The same seed gives the same bytes.
Proportions (statement mix, share of wide mutations, near-duplicate
rates) are fixed; the seed picks keys, ranges, text and order, so runs
on different seeds measure the same amount of work.
"""
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Table sizes follow the sf0.1 shape graft's registry is benchmarked on.
LINEITEM_ROWS = 600_000
ORDERS_ROWS = 150_000
CUSTOMER_ROWS = 15_000
EVENTS_ROWS = 100_000
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
EPOCH = np.datetime64("1995-01-01T00:00:00", "us")
DAYS = 2500  # 1995-01-01 .. 2001-11: 83 months of ship dates

# Ingest: a month-partitioned live copy of lineitem and its change stream.
INGEST_MONTHS = 24
INGEST_ROWS = 96_000
INSERT_ROWS = 200
CYCLE = 4  # batches per cycle; the first batch of each cycle has a wide UPDATE and an OPTIMIZE
INGEST_BATCHES = 401

# Pipeline: base corpus, replicated and perturbed REPLICAS times.
BASE_DOCS = 5_000
BASE_VECTORS = 2_000
REPLICAS = 2
DIM = 64
NEAR_DUP_SHARE = 0.10
EXACT_DUP_SHARE = 0.03
STOPWORDS = ["the", "a", "and", "of", "to", "is", "in", "it"]


def _ts(days, seconds=None):
    us = days.astype("int64") * 86_400_000_000
    if seconds is not None:
        us = us + seconds
    return pa.array((EPOCH + us.astype("timedelta64[us]")), pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return np.round(rng.integers(int(lo * 100), int(hi * 100), n) / 100.0, 2)


def write_star(rng, out):
    """nation, customer, orders, lineitem and events, as parquet files."""
    os.makedirs(out, exist_ok=True)
    tables = {}
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int32()),
    })
    tables["customer"] = pa.table({
        "c_custkey": np.arange(CUSTOMER_ROWS, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(CUSTOMER_ROWS)],
        "c_nationkey": pa.array(rng.integers(0, 25, CUSTOMER_ROWS), pa.int32()),
        "c_acctbal": _money(rng, -999, 9999, CUSTOMER_ROWS),
        "c_mktsegment": np.array(SEGMENTS)[rng.integers(0, 5, CUSTOMER_ROWS)],
    })
    tables["orders"] = pa.table({
        "o_orderkey": np.arange(ORDERS_ROWS, dtype=np.int64),
        "o_custkey": rng.integers(0, CUSTOMER_ROWS, ORDERS_ROWS),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, ORDERS_ROWS)],
        "o_totalprice": _money(rng, 800, 450000, ORDERS_ROWS),
        "o_orderdate": _ts(rng.integers(0, DAYS - 90, ORDERS_ROWS)),
        "o_orderpriority": np.array(PRIORITIES)[rng.integers(0, 5, ORDERS_ROWS)],
    })
    tables["lineitem"] = lineitem(rng, LINEITEM_ROWS, 0, DAYS)
    secs = np.sort(rng.integers(0, 60 * 86_400_000_000, EVENTS_ROWS))
    tables["events"] = pa.table({
        "event_id": np.arange(EVENTS_ROWS, dtype=np.int64),
        "ts": pa.array(np.datetime64("2024-01-01T00:00:00", "us") + secs.astype("timedelta64[us]"),
                       pa.timestamp("us")),
        "user_id": rng.integers(0, 2000, EVENTS_ROWS),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, EVENTS_ROWS)],
        "value": _money(rng, 0, 500, EVENTS_ROWS),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, EVENTS_ROWS)],
    })
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out, f"{name}.parquet"))
    return {k: v.num_rows for k, v in tables.items()}


def lineitem(rng, n, day_lo, day_hi, key_base=0):
    return pa.table({
        "l_orderkey": key_base + rng.integers(0, ORDERS_ROWS, n),
        "l_partkey": rng.integers(0, 20_000, n),
        "l_suppkey": rng.integers(0, 1_000, n),
        "l_linenumber": pa.array(rng.integers(1, 8, n), pa.int32()),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, 900, 105000, n),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n)],
        "l_shipdate": _ts(rng.integers(day_lo, day_hi, n)),
    })


def _date(day):
    return (dt.date(1995, 1, 1) + dt.timedelta(days=int(day))).isoformat()


def _ddl(table, columns, order_by, partition_by=None):
    part = f" PARTITION BY {partition_by}" if partition_by else ""
    return (f"CREATE TABLE {table} ({columns}) ENGINE = MergeTree{part} "
            f"ORDER BY {order_by}")


STAR_DDL = {
    "nation": ("n_nationkey Int32, n_name String, n_regionkey Int32", "n_nationkey"),
    "customer": ("c_custkey UInt64, c_name String, c_nationkey Int32, c_acctbal Float64, "
                 "c_mktsegment LowCardinality(String)", "c_custkey"),
    "orders": ("o_orderkey UInt64, o_custkey UInt64, o_orderstatus String, o_totalprice Float64, "
               "o_orderdate DateTime, o_orderpriority LowCardinality(String)", "o_orderkey"),
    "lineitem": ("l_orderkey UInt64, l_partkey UInt64, l_suppkey UInt64, l_linenumber Int32, "
                 "l_quantity Float64, l_extendedprice Float64, l_discount Float64, l_tax Float64, "
                 "l_returnflag String, l_linestatus String, l_shipdate DateTime",
                 "(l_orderkey, l_linenumber)"),
    "events": ("event_id UInt64, ts DateTime64(6), user_id UInt64, event_type LowCardinality(String), "
               "value Float64, props String", "(event_type, ts)"),
}


def dashboard(seed, data):
    """The star tables as MergeTree catalog tables plus a seeded SELECT mix.

    Returns (setup, ops). Each op is (id, ch_sql, duck_sql,
    input_rows); the client issues them in this order, over and over,
    like a dashboard refreshing its panels.
    """
    rng = np.random.default_rng(seed)
    rows = write_star(rng, data)
    setup = []
    for t, (cols, order) in STAR_DDL.items():
        setup.append(_ddl(t, cols, order))
        setup.append(f"INSERT INTO {t} SELECT * FROM file('{data}/{t}.parquet', 'Parquet')")
    setup += [
        "ALTER TABLE lineitem ADD PROJECTION p_flag "
        "(SELECT l_returnflag, count(), sum(l_quantity) GROUP BY l_returnflag)",
        "ALTER TABLE orders ADD PROJECTION p_cust (SELECT * ORDER BY o_custkey)",
        "CREATE DICTIONARY nation_dict (n_nationkey UInt64, n_name String) PRIMARY KEY n_nationkey "
        f"SOURCE(FILE(PATH '{data}/nation.parquet' FORMAT 'Parquet')) LAYOUT(FLAT())",
    ]

    li, od, cu, ev = rows["lineitem"], rows["orders"], rows["customer"], rows["events"]
    ops = []

    def add(name, ch, duck, n):
        ops.append((name, ch, duck, n))

    def span(days):
        lo = int(rng.integers(0, DAYS - days))
        return _date(lo), _date(lo + days)

    a, b = span(240)
    add("count_range", f"SELECT count() AS n FROM lineitem WHERE l_shipdate >= '{a}' AND l_shipdate < '{b}'",
        f"SELECT count(*) AS n FROM lineitem WHERE l_shipdate >= '{a}' AND l_shipdate < '{b}'", li)
    d = int(rng.integers(0, 8))
    rev = (f"SELECT coalesce(sum(l_extendedprice * (1 - l_discount)), 0) AS rev FROM lineitem "
           f"WHERE l_shipdate >= '{a}' AND l_shipdate < '{b}' AND l_discount BETWEEN {d / 100} AND {(d + 2) / 100}")
    add("revenue", rev, rev, li)
    a, b = span(730)
    add("monthly", f"SELECT toStartOfMonth(o_orderdate) AS m, count() AS n, sum(o_totalprice) AS total "
        f"FROM orders WHERE o_orderdate >= '{a}' AND o_orderdate < '{b}' GROUP BY m ORDER BY m",
        f"SELECT CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS m, count(*) AS n, sum(o_totalprice) AS total "
        f"FROM orders WHERE o_orderdate >= '{a}' AND o_orderdate < '{b}' GROUP BY m ORDER BY m", od)
    a, b = span(540)
    star = (f"SELECT n_name, count() AS orders, sum(o_totalprice) AS revenue FROM orders "
            f"JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey "
            f"WHERE o_orderdate >= '{a}' AND o_orderdate < '{b}' "
            f"GROUP BY n_name ORDER BY revenue DESC LIMIT 10")
    add("star_topn", star, star.replace("count()", "count(*)"), od + cu + 25)
    k = int(rng.integers(0, od))
    add("point_order", f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate "
        f"FROM orders WHERE o_orderkey = {k}",
        f"SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate "
        f"FROM orders WHERE o_orderkey = {k}", od)
    et = EVENT_TYPES[int(rng.integers(0, 5))]
    add("daily_top", f"SELECT toStartOfDay(ts) AS d, count() AS n FROM events WHERE event_type = '{et}' "
        f"GROUP BY d ORDER BY n DESC, d LIMIT 30",
        f"SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS d, count(*) AS n FROM events WHERE event_type = '{et}' "
        f"GROUP BY d ORDER BY n DESC, d LIMIT 30", ev)
    c = int(rng.integers(0, cu))
    add("sortproj_cust", f"SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = {c} ORDER BY o_orderkey",
        f"SELECT o_orderkey, o_totalprice FROM orders WHERE o_custkey = {c} ORDER BY o_orderkey", od)
    a, _ = span(400)
    topk = ("SELECT o_orderpriority, o_orderkey, o_totalprice, rn FROM (SELECT o_orderpriority, o_orderkey, "
            "o_totalprice, row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, "
            f"o_orderkey) AS rn FROM orders WHERE o_orderdate >= '{a}') WHERE rn <= 3 "
            "ORDER BY o_orderpriority, rn")
    add("topk_window", topk, topk, od)
    bal = int(rng.integers(-500, 8000))
    add("dictget", f"SELECT dictGet('nation_dict', 'n_name', c_nationkey) AS nation, count() AS n "
        f"FROM customer WHERE c_acctbal > {bal} GROUP BY nation ORDER BY nation",
        f"SELECT n_name AS nation, count(*) AS n FROM customer LEFT JOIN nation ON c_nationkey = n_nationkey "
        f"WHERE c_acctbal > {bal} GROUP BY n_name ORDER BY n_name", cu)
    a, _ = span(900)
    add("file_flags", f"SELECT l_returnflag, count() AS n, sum(l_quantity) AS q "
        f"FROM file('{data}/lineitem.parquet', 'Parquet') WHERE l_shipdate >= '{a}' "
        f"GROUP BY l_returnflag ORDER BY l_returnflag",
        f"SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q FROM lineitem "
        f"WHERE l_shipdate >= '{a}' GROUP BY l_returnflag ORDER BY l_returnflag", li)
    add("flags", "SELECT l_returnflag, l_linestatus, count() AS n, sum(l_quantity) AS qty, "
        "round(avg(l_discount), 6) AS disc FROM lineitem GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus",
        "SELECT l_returnflag, l_linestatus, count(*) AS n, sum(l_quantity) AS qty, "
        "round(avg(l_discount), 6) AS disc FROM lineitem GROUP BY l_returnflag, l_linestatus "
        "ORDER BY l_returnflag, l_linestatus", li)
    add("proj_flag", "SELECT l_returnflag, count() AS n, sum(l_quantity) AS q FROM lineitem "
        "GROUP BY l_returnflag ORDER BY l_returnflag",
        "SELECT l_returnflag, count(*) AS n, sum(l_quantity) AS q FROM lineitem "
        "GROUP BY l_returnflag ORDER BY l_returnflag", li)
    add("segments", "SELECT c_mktsegment, count() AS n, sum(c_acctbal) AS bal FROM customer "
        "GROUP BY c_mktsegment ORDER BY bal DESC",
        "SELECT c_mktsegment, count(*) AS n, sum(c_acctbal) AS bal FROM customer "
        "GROUP BY c_mktsegment ORDER BY bal DESC", cu)
    add("uniq_quantile", "SELECT event_type, uniqExact(user_id) AS users, quantile(0.5)(value) AS p50, "
        "quantile(0.9)(value) AS p90 FROM events GROUP BY event_type ORDER BY event_type",
        "SELECT event_type, count(DISTINCT user_id) AS users, quantile_cont(value, 0.5) AS p50, "
        "quantile_cont(value, 0.9) AS p90 FROM events GROUP BY event_type ORDER BY event_type", ev)
    add("multiif", "SELECT multiIf(value < 10, 'low', value < 100, 'mid', 'high') AS band, count() AS n, "
        "sum(value) AS total FROM events GROUP BY band ORDER BY band",
        "SELECT CASE WHEN value < 10 THEN 'low' WHEN value < 100 THEN 'mid' ELSE 'high' END AS band, "
        "count(*) AS n, sum(value) AS total FROM events GROUP BY band ORDER BY band", ev)
    add("buyers", "SELECT user_id, countIf(event_type = 'purchase') AS buys, count() AS n FROM events "
        "GROUP BY user_id ORDER BY buys DESC, user_id LIMIT 20",
        "SELECT user_id, count(*) FILTER (WHERE event_type = 'purchase') AS buys, count(*) AS n FROM events "
        "GROUP BY user_id ORDER BY buys DESC, user_id LIMIT 20", ev)

    return setup, ops


INGEST_COLS = STAR_DDL["lineitem"][0] + ", ym Int32"
INGEST_TABLE = "lineitem_live"
# The first ingest month (partition ym) is 2000-01; ship dates span 24 months.
INGEST_DAY0 = (dt.date(2000, 1, 1) - dt.date(1995, 1, 1)).days


def _month_days(m):
    """[first day, next first day) of ingest month m, as days since EPOCH."""
    y, mo = 2000 + m // 12, m % 12 + 1
    lo = (dt.date(y, mo, 1) - dt.date(1995, 1, 1)).days
    y2, mo2 = (y, mo + 1) if mo < 12 else (y + 1, 1)
    return lo, (dt.date(y2, mo2, 1) - dt.date(1995, 1, 1)).days


def _ym(m):
    return (2000 + m // 12) * 100 + m % 12 + 1


def ingest(seed, data):
    """A 24-month partitioned MergeTree table and a seeded change stream.

    Returns (setup, ops): ops are (id, kind, batch, ch_sql,
    duck_sql, rows) in stream order.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(data, exist_ok=True)
    days_hi = _month_days(INGEST_MONTHS - 1)[1]
    pq.write_table(lineitem(rng, INGEST_ROWS, INGEST_DAY0, days_hi), os.path.join(data, "lineitem.parquet"))
    setup = [
        _ddl(INGEST_TABLE, INGEST_COLS, "(l_orderkey, l_linenumber)", "ym"),
        # toYear * 100 + toMonth rather than toYYYYMM: see perfbench/README.md
        f"INSERT INTO {INGEST_TABLE} SELECT *, toYear(l_shipdate) * 100 + toMonth(l_shipdate) "
        f"FROM file('{data}/lineitem.parquet', 'Parquet')",
    ]
    ops = []
    for b in range(INGEST_BATCHES):
        # new keys, mostly in the three most recent months
        recent = rng.random(INSERT_ROWS) < 0.8
        months = np.where(recent, INGEST_MONTHS - 1 - rng.integers(0, 3, INSERT_ROWS),
                          rng.integers(0, INGEST_MONTHS, INSERT_ROWS))
        vals = []
        new = lineitem(rng, INSERT_ROWS, 0, 1, key_base=10_000_000 + b * ORDERS_ROWS).to_pydict()
        for j in range(INSERT_ROWS):
            lo, hi = _month_days(int(months[j]))
            day = int(rng.integers(lo, hi))
            vals.append(f"({new['l_orderkey'][j]}, {new['l_partkey'][j]}, {new['l_suppkey'][j]}, "
                        f"{new['l_linenumber'][j]}, {new['l_quantity'][j]}, {new['l_extendedprice'][j]}, "
                        f"{new['l_discount'][j]}, {new['l_tax'][j]}, '{new['l_returnflag'][j]}', "
                        f"'{new['l_linestatus'][j]}', TIMESTAMP '{_date(day)} 00:00:00', {_ym(int(months[j]))})")
        ins = f"INSERT INTO {INGEST_TABLE} VALUES " + ", ".join(vals)
        ops.append((f"b{b}_insert", "insert", b, ins, ins, INSERT_ROWS))

        def where(wide=False):
            m = INGEST_MONTHS - 1 - int(rng.integers(0, 2))
            mod, r = int(rng.integers(40, 60)), int(rng.integers(0, 40))
            pred = f"l_orderkey % {mod} = {r}"
            return pred if wide else f"ym = {_ym(m)} AND {pred}"

        # the wide mutations and OPTIMIZEs sit at fixed batch positions,
        # so every run's window holds the same statement kinds
        w = where(wide=b % CYCLE == 0)
        ops.append((f"b{b}_update", "update", b,
                    f"ALTER TABLE {INGEST_TABLE} UPDATE l_quantity = l_quantity + 1, l_linestatus = 'U' WHERE {w}",
                    f"UPDATE {INGEST_TABLE} SET l_quantity = l_quantity + 1, l_linestatus = 'U' WHERE {w}", 0))
        w = where()
        ops.append((f"b{b}_delete", "delete", b, f"DELETE FROM {INGEST_TABLE} WHERE {w}",
                    f"DELETE FROM {INGEST_TABLE} WHERE {w}", 0))
        if b % CYCLE == 0:
            ops.append((f"b{b}_optimize", "optimize", b, f"OPTIMIZE TABLE {INGEST_TABLE} FINAL", None, 0))
        m0 = _ym(INGEST_MONTHS - 1 - int(rng.integers(1, 4)))
        read = (f"SELECT ym, count() AS n, sum(l_quantity) AS q, sum(l_extendedprice * (1 - l_discount)) AS rev "
                f"FROM {INGEST_TABLE} WHERE ym >= {m0} GROUP BY ym ORDER BY ym")
        ops.append((f"b{b}_read", "read", b, read, read.replace("count()", "count(*)"), 0))
    return setup, ops


def _vocab(rng, n):
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    lens = rng.integers(3, 10, n)
    words = {"".join(letters[rng.integers(0, 26, k)]) for k in lens}
    return sorted(words - set(STOPWORDS))


def pipeline(seed, data):
    """documents and embeddings: a base corpus with planted exact and near
    duplicates, replicated REPLICAS times with per-replica perturbation
    (token suffix for text, circular rotation for vectors) so duplicate
    structure stays within a replica.

    Returns the corpus's (documents, vectors) row counts.
    """
    rng = np.random.default_rng(seed)
    os.makedirs(data, exist_ok=True)
    vocab = np.array(_vocab(rng, 4000))
    zipf = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    zipf /= zipf.sum()
    docs = []
    for i in range(BASE_DOCS):
        r = rng.random()
        if i > 10 and r < NEAR_DUP_SHARE:
            toks = docs[int(rng.integers(0, i))].split(" ")
            for _ in range(int(rng.integers(1, 3))):
                p = int(rng.integers(0, len(toks)))
                toks[p] = str(vocab[int(rng.integers(0, len(vocab)))])
            docs.append(" ".join(toks))
        elif i > 10 and r < NEAR_DUP_SHARE + EXACT_DUP_SHARE:
            # same text after normalisation (case and whitespace only)
            docs.append(docs[int(rng.integers(0, i))].upper().replace(" ", "  ", 2))
        else:
            n = int(rng.integers(12, 90))
            words = vocab[rng.choice(len(vocab), n, p=zipf)]
            stops = rng.random(n) < 0.2
            words[stops] = np.array(STOPWORDS)[rng.integers(0, len(STOPWORDS), int(stops.sum()))]
            docs.append(" ".join(words))
    centers = rng.normal(size=(20, DIM))
    labels = rng.integers(0, 20, BASE_VECTORS)
    vecs = centers[labels] + rng.normal(scale=2.0, size=(BASE_VECTORS, DIM))
    near = rng.random(BASE_VECTORS) < NEAR_DUP_SHARE
    for i in np.nonzero(near)[0]:
        if i > 0:
            vecs[i] = vecs[int(rng.integers(0, i))] + rng.normal(scale=0.05, size=DIM)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)

    shift = 10_000_000_000
    ids, texts, vids, rows, labs = [], [], [], [], []
    for rep in range(REPLICAS):
        suffix = f"r{rep}" if rep else ""
        ids.extend(rep * shift + i for i in range(BASE_DOCS))
        texts.extend(" ".join(w + suffix for w in d.split(" ")) if suffix else d for d in docs)
        vids.extend(rep * shift + i for i in range(BASE_VECTORS))
        rows.extend(np.roll(vecs, -rep, axis=1))
        labs.extend(labels.tolist())
    langs = np.array(["en", "de", "fr", "es", "zh"])[rng.integers(0, 5, len(ids))]
    pq.write_table(pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": texts,
        "lang": langs,
        "source": [f"src{k}" for k in rng.integers(0, 20, len(ids))],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), os.path.join(data, "documents.parquet"))
    pq.write_table(pa.table({
        "vec_id": pa.array(vids, pa.int64()),
        "embedding": pa.array([r.tolist() for r in rows], pa.list_(pa.float32())),
        "label": pa.array(labs, pa.int32()),
    }), os.path.join(data, "embeddings.parquet"))
    return len(ids), len(vids)
