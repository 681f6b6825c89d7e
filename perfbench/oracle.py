"""Output checks against DuckDB and independent recomputation.

Every check here runs after the timed window. A check returns a list
of problems; an empty list means the outputs are correct.
"""
import datetime as dt
import decimal
import json
import math
import os
import re

import duckdb
import numpy as np

import inputs


def _norm(v):
    if isinstance(v, dt.datetime):
        return v.strftime("%Y-%m-%d %H:%M:%S.%f")
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (list, tuple)):
        return [_norm(x) for x in v]
    return v


def _same(a, b):
    if isinstance(a, bool) or isinstance(b, bool):
        return a == b
    if isinstance(a, (int, float)) and isinstance(b, (int, float)):
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-6)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(_same(x, y) for x, y in zip(a, b))
    return a == b


def read_rows(path):
    with open(path) as f:
        return [json.loads(line) for line in f if line.strip()]


def compare(name, got, want):
    want = [[_norm(v) for v in r] for r in want]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows, DuckDB has {len(want)}"]
    for i, (g, w) in enumerate(zip(got, want)):
        if not _same(g, w):
            return [f"{name}: row {i} is {g}, DuckDB has {w}"]
    return []


def _star(con, data, tables):
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")


def check_dashboard(data, ops, out):
    """Each distinct statement's result against DuckDB on the same parquet."""
    con = duckdb.connect()
    _star(con, data, inputs.STAR_DDL)
    problems = []
    for op_id, _, duck, _ in ops:
        path = os.path.join(out, "rows", f"{op_id}.jsonl")
        if not os.path.exists(path):
            problems.append(f"{op_id}: no result")
            continue
        problems += compare(op_id, read_rows(path), con.execute(duck).fetchall())
    return problems


def check_ingest(data, ops, out, executed):
    """Replays the executed prefix of the change stream in DuckDB.

    Checks the rows each mutation reports as changed, every read
    taken between batches, and the final table state row for row.
    Returns (problems, rows changed per op id).
    """
    con = duckdb.connect()
    t = inputs.INGEST_TABLE
    con.execute(f"CREATE TABLE {t} AS SELECT *, CAST(year(l_shipdate) * 100 + month(l_shipdate) AS INTEGER) "
                f"AS ym FROM read_parquet('{data}/lineitem.parquet')")
    problems, changed = [], {}
    for op_id, kind, batch, _, duck, rows in ops:
        if op_id not in executed:
            break
        if kind == "optimize":
            changed[op_id] = 0
            continue
        if kind == "read":
            problems += compare(op_id, read_rows(os.path.join(out, "rows", f"{op_id}.jsonl")),
                                con.execute(duck).fetchall())
            continue
        n = con.execute(duck).fetchall()[0][0]
        changed[op_id] = rows if kind == "insert" else n
        if kind in ("update", "delete"):
            report = read_rows(os.path.join(out, "rows", f"{op_id}.jsonl"))
            if report[0][2] != n:
                problems.append(f"{op_id}: graft reports {report[0][2]} rows changed, DuckDB {n}")
    cols = ", ".join(f"CAST({c} AS VARCHAR)" for c in
                     [c.split()[0] for c in inputs.INGEST_COLS.split(", ")])
    final = os.path.join(out, "final")
    diff = con.execute(f"""
        SELECT (SELECT count(*) FROM (SELECT {cols} FROM read_parquet('{final}/**/*.parquet', hive_partitioning = true)
                                      EXCEPT ALL SELECT {cols} FROM {t})),
               (SELECT count(*) FROM (SELECT {cols} FROM {t}
                                      EXCEPT ALL SELECT {cols} FROM read_parquet('{final}/**/*.parquet',
                                                                                 hive_partitioning = true))),
               (SELECT count(*) FROM {t})""").fetchall()[0]
    if diff[0] or diff[1]:
        problems.append(f"final table: {diff[0]} rows only in graft, {diff[1]} only in DuckDB "
                        f"(of {diff[2]})")
    return problems, changed


def _shingles(text, n=3):
    toks = re.sub(r"\s+", " ", text).strip().lower().split(" ")
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


# Floors for the independent re-check of approximate pairs: a pair's
# true word-3-gram Jaccard must reach this. MinHash estimates the
# Jaccard from 64 hashes (threshold 0.7, so 0.45 is over 4 standard
# deviations below); SimHash bounds the Hamming distance, which the
# planted near-duplicates (1-2 edited tokens) meet with Jaccard far
# above the floor while unrelated documents share almost no 3-grams.
MINHASH_FLOOR = 0.45
SIMHASH_FLOOR = 0.30
ANN_MIN_COS = 0.4


def check_pipeline(data, out):
    """Exact stages against DuckDB; approximate pairs re-verified one by
    one; ANN recall against an exact cosine join. Returns (problems,
    ann_recall)."""
    con = duckdb.connect()
    _star(con, data, ["documents"])
    norm = r"lower(trim(regexp_replace(text, '\s+', ' ', 'g')))"
    problems = []
    rows = lambda s: read_rows(os.path.join(out, "rows", f"{s}.jsonl"))
    got = sorted(map(tuple, rows("exact_dedup")))
    want = con.execute(f"SELECT md5({norm}) AS fp, min(doc_id), count(*) FROM documents GROUP BY 1 "
                       "ORDER BY 1").fetchall()
    problems += compare("exact_dedup", [list(r) for r in got], want)
    want = con.execute(f"""
        WITH n AS (SELECT doc_id, {norm} AS norm FROM documents),
             d AS (SELECT doc_id, norm, row_number() OVER (PARTITION BY md5(norm) ORDER BY doc_id) AS rn FROM n),
             q AS (SELECT doc_id, norm, string_split(norm, ' ') AS toks FROM d WHERE rn = 1),
             f AS (SELECT doc_id, toks FROM q
                   WHERE round(least(len(toks) / 50.0, 1.0) * 0.4
                         + (len(list_filter(toks, x -> x IN ('the','a','and','of','to','is','in','it')))
                            / CAST(len(toks) AS DOUBLE)) * 0.3
                         + (len(list_distinct(toks)) / CAST(len(toks) AS DOUBLE)) * 0.3, 6) >= 0.5),
             c AS (SELECT doc_id, toks, greatest(1, CAST(ceil((len(toks) - 2) / 6.0) AS INT)) AS nc FROM f),
             e AS (SELECT doc_id, toks, unnest(generate_series(0, nc - 1)) AS chunk_idx FROM c),
             ch AS (SELECT doc_id, array_to_string(list_slice(toks, chunk_idx * 6 + 1, chunk_idx * 6 + 8), ' ')
                           AS chunk FROM e)
        SELECT CAST(strpos('0123456789abcdef', substring(md5(chunk), 1, 1)) - 1 AS INT) AS shard,
               count(DISTINCT doc_id), count(*), CAST(sum(len(string_split(chunk, ' '))) AS BIGINT)
        FROM ch GROUP BY 1 ORDER BY 1""").fetchall()
    problems += compare("curate", rows("curate"), want)

    text = dict(con.execute("SELECT doc_id, text FROM documents").fetchall())
    sh = {}
    for stage, floor in (("minhash", MINHASH_FLOOR), ("simhash", SIMHASH_FLOOR)):
        pairs = rows(stage)
        if not pairs:
            problems.append(f"{stage}: no pairs")
        low = 0
        for a, b, *_ in pairs:
            sa = sh.setdefault(a, _shingles(text[a]))
            sb = sh.setdefault(b, _shingles(text[b]))
            if a >= b or len(sa & sb) / len(sa | sb) < floor:
                low += 1
        if low:
            problems.append(f"{stage}: {low} of {len(pairs)} pairs below true Jaccard {floor}")

    emb = duckdb.connect().execute(
        f"SELECT vec_id, embedding FROM read_parquet('{data}/embeddings.parquet') ORDER BY vec_id").fetchall()
    ids = np.array([r[0] for r in emb])
    m = np.array([r[1] for r in emb], dtype=np.float64)
    m /= np.linalg.norm(m, axis=1, keepdims=True)
    pos = {v: i for i, v in enumerate(ids)}
    pairs = rows("ann_lsh")
    bad = 0
    found = set()
    for a, b, *_ in pairs:
        c = float(m[pos[a]] @ m[pos[b]])
        if a >= b or round(c, 4) < ANN_MIN_COS - 1e-4:
            bad += 1
        found.add((a, b))
    if bad:
        problems.append(f"ann_lsh: {bad} of {len(pairs)} pairs below cosine {ANN_MIN_COS}")
    exact = 0
    hit = 0
    for i in range(0, len(ids), 2048):
        sims = m[i:i + 2048] @ m.T
        rr, cc = np.nonzero(np.round(sims, 4) >= ANN_MIN_COS)
        for r, c in zip(rr, cc):
            a, b = ids[i + r], ids[c]
            if a < b:
                exact += 1
                hit += (int(a), int(b)) in found
    return problems, (hit / exact if exact else 1.0)
