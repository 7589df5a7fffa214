"""Correctness checks: each compares what the engine produced against
an independent computation over the generated inputs (DuckDB SQL or
numpy), never against the path being timed.

Every check returns (problems, derived): a list of failure messages
(empty when the run is correct) and values the metrics need.
"""
import os
from collections import defaultdict

import duckdb
import numpy as np
import pyarrow.parquet as pq

FACT_COLS = ("order_id, items, sub_category, category, flavor, variation, size, "
             "quantity, sugar_level, spice_level, total_order_amount, "
             "received_amount, payment_time, payment_type, order_type")
KEYS = "order_id, items, payment_time"
# must equal the parameters in LlmCuration.scala
MINHASH_N = 3
MINHASH_THRESHOLD = 0.7
SEM_THRESHOLD = 0.95
TOPK = 10


def _diff(con, a, b):
    """Row counts of a EXCEPT ALL b and b EXCEPT ALL a."""
    x = con.execute(f"SELECT count(*) FROM ({a} EXCEPT ALL {b})").fetchone()[0]
    y = con.execute(f"SELECT count(*) FROM ({b} EXCEPT ALL {a})").fetchone()[0]
    return x, y


def check_pos(res, input_dir, work):
    """The fact table and quarantine against a one-shot DuckDB
    recomputation over every ingested day (the engine's own
    end-to-end oracle SQL): the fact holds exactly the valid keys, each
    row equal to an oracle row of its key (latest-wins over identical
    re-deliveries); the quarantine holds every delivery's invalid rows.
    """
    c = res["counts"]
    days = c["days_ingested"]
    src = os.path.join(input_dir, "pos")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW deliveries AS SELECT * FROM "
                f"read_parquet('{src}/deliveries.parquet') WHERE day < {days}")
    con.execute(f"CREATE VIEW orders AS SELECT * FROM read_parquet('{src}/orders.parquet') "
                f"WHERE o_orderkey IN (SELECT o_orderkey FROM deliveries)")
    con.execute(f"CREATE VIEW lineitem AS SELECT * FROM read_parquet('{src}/lineitem.parquet') "
                f"WHERE l_orderkey IN (SELECT o_orderkey FROM deliveries)")
    with open(c["pipeline_sql"]) as f:
        con.execute(f"CREATE TABLE fl AS {f.read()}")
    con.execute(f"CREATE TABLE fact AS SELECT {FACT_COLS} FROM read_parquet("
                f"'{c['fact_path']}/**/*.parquet', hive_partitioning = true)")
    con.execute(f"CREATE TABLE quar AS SELECT {FACT_COLS} FROM read_parquet("
                f"'{c['quarantine_path']}/**/*.parquet', hive_partitioning = true)")
    problems = []
    dup = con.execute(f"SELECT count(*) - count(DISTINCT ({KEYS})) FROM fact").fetchone()[0]
    if dup:
        problems.append(f"pos_daily: {dup} duplicate business keys in the fact table")
    kx, ky = _diff(con, f"SELECT DISTINCT {KEYS} FROM fact",
                   f"SELECT DISTINCT {KEYS} FROM fl WHERE valid")
    if kx or ky:
        problems.append(f"pos_daily: fact keys differ from the oracle ({kx} extra, {ky} missing)")
    bad = con.execute(f"SELECT count(*) FROM (SELECT {FACT_COLS} FROM fact EXCEPT "
                      f"SELECT {FACT_COLS} FROM fl WHERE valid)").fetchone()[0]
    if bad:
        problems.append(f"pos_daily: {bad} fact rows match no oracle row")
    qx, qy = _diff(con, "SELECT * FROM quar",
                   f"SELECT {', '.join('f.' + x.strip() for x in FACT_COLS.split(','))} "
                   "FROM fl f JOIN deliveries d ON f.order_id = CAST(d.o_orderkey AS VARCHAR) "
                   "WHERE NOT f.valid")
    if qx or qy:
        problems.append(f"pos_daily: quarantine differs from the oracle ({qx} extra, {qy} missing)")
    # item rows the timed days landed (the first days are the warm-up)
    landed = con.execute("SELECT count(*) FROM fl f JOIN deliveries d "
                         "ON f.order_id = CAST(d.o_orderkey AS VARCHAR) "
                         f"WHERE d.day >= {days - c['days_timed']}").fetchone()[0]
    n_fact = con.execute("SELECT count(*) FROM fact").fetchone()[0]
    if n_fact == 0:
        problems.append("pos_daily: empty fact table")
    return problems, {"landed_rows": landed}


def check_churn(res, input_dir, work):
    """Replay the executed statement prefix on a plain DuckDB table:
    every read's count and the final table multiset must agree, and
    the CDC-derived table must equal its source as of the last version
    the consumer applied.
    """
    c = res["counts"]
    src = os.path.join(input_dir, "churn")
    con = duckdb.connect()
    con.execute(f"CREATE TABLE t AS SELECT * FROM read_parquet('{src}/base/*.parquet')")
    with open(f"{src}/stmts.tsv") as f:
        stmts = [l.rstrip("\n").split("\t") for l in f if l.strip()]
    want_reads = {}
    for i, (op, _cycle, batch, lo, hi) in enumerate(stmts[:c["executed"]]):
        b = f"read_parquet('{src}/{batch}')"
        if op in ("merge", "sql_merge"):
            con.execute(f"DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM {b})")
            con.execute(f"INSERT INTO t SELECT * FROM {b}")
        elif op == "merge_clauses":
            # matched 'D' rows delete, other matched rows update,
            # unmatched rows insert unless marked 'D'
            con.execute(f"DELETE FROM t WHERE o_orderkey IN (SELECT o_orderkey FROM {b})")
            con.execute(f"INSERT INTO t SELECT * FROM {b} WHERE o_orderstatus <> 'D'")
        elif op == "delete":
            con.execute(f"DELETE FROM t WHERE o_orderkey BETWEEN {lo} AND {hi}")
        elif op == "append":
            con.execute(f"INSERT INTO t SELECT * FROM {b}")
        elif op == "read":
            want_reads[i] = con.execute(
                f"SELECT count(*) FROM t WHERE o_orderkey BETWEEN {lo} AND {hi}").fetchone()[0]
    problems = []
    got_reads = {int(r[0]): int(r[1]) for r in c["reads"]}
    wrong = [i for i, n in want_reads.items() if got_reads.get(i) != n]
    if wrong:
        problems.append(f"table_churn: {len(wrong)} of {len(want_reads)} reads returned "
                        f"wrong counts (first at statement {wrong[0]})")
    cols = "o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate, o_orderpriority"
    eng = f"SELECT {cols} FROM read_parquet('{c['table_export']}/*.parquet')"
    x, y = _diff(con, eng, f"SELECT {cols} FROM t")
    if x or y:
        problems.append(f"table_churn: table differs from the replay ({x} extra, {y} missing)")
    x, y = _diff(con, f"SELECT {cols} FROM read_parquet('{c['cdc_export']}/*.parquet')",
                 f"SELECT {cols} FROM read_parquet('{c['cdc_source_export']}/*.parquet')")
    if x or y:
        problems.append(f"table_churn: CDC table differs from its source at the last applied "
                        f"version ({x} extra, {y} missing)")
    return problems, {}


def _shingles(text, n):
    w = text.split(" ")
    return {tuple(w[i:i + n]) for i in range(len(w) - n + 1)}


def check_llm(res, input_dir, work, recall_floor):
    """Dedup outputs against brute force over the whole corpus, and
    recall@10 of the served probes against exact cosine top-k.
    """
    c = res["counts"]
    out = c["out"]
    src = os.path.join(input_dir, "llm")
    problems = []
    docs = pq.read_table(f"{src}/documents.parquet").to_pydict()
    ids, texts = docs["doc_id"], docs["text"]

    q = pq.read_table(f"{out}/quality").to_pydict()
    if q["n"] != [len(ids)]:
        problems.append(f"llm_curation: quality report covers {q['n']} of {len(ids)} docs")

    first = {}
    copies = defaultdict(int)
    for i, t in zip(ids, texts):
        first[t] = min(first.get(t, i), i)
        copies[t] += 1
    want = {(first[t], copies[t]) for t in first}
    e = pq.read_table(f"{out}/exact").to_pydict()
    got = set(zip(e["doc_id"], e["n_copies"]))
    if got != want or len(e["doc_id"]) != len(want):
        problems.append(f"llm_curation: exactDedup has {len(e['doc_id'])} groups, "
                        f"brute force {len(want)}")

    # all pairs sharing a shingle, exact Jaccard (others have J = 0)
    sets = {i: _shingles(t, MINHASH_N) for i, t in zip(ids, texts)}
    index = defaultdict(list)
    for i, s in sets.items():
        for g in s:
            index[g].append(i)
    cand = set()
    for posting in index.values():
        for a in range(len(posting)):
            for b in range(a + 1, len(posting)):
                cand.add((min(posting[a], posting[b]), max(posting[a], posting[b])))
    truth = {p for p in cand
             if len(sets[p[0]] & sets[p[1]]) / len(sets[p[0]] | sets[p[1]]) >= MINHASH_THRESHOLD}
    m = pq.read_table(f"{out}/minhash").to_pydict()
    found = {(min(a, b), max(a, b)) for a, b in zip(m["id_i"], m["id_j"])}
    if found != truth:
        problems.append(f"llm_curation: minhashNearDups found {len(found)} pairs, brute force "
                        f"{len(truth)} ({len(found - truth)} false, {len(truth - found)} missed)")

    emb = pq.read_table(f"{src}/embeddings.parquet").to_pydict()
    vecs = np.array(emb["embedding"], dtype=np.float64)
    unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
    cos = unit @ unit.T
    iu = np.triu_indices(len(vecs), 1)
    vid = np.array(emb["vec_id"])
    sel = cos[iu] >= SEM_THRESHOLD
    sem_truth = set(zip(vid[iu[0][sel]].tolist(), vid[iu[1][sel]].tolist()))
    ident = {(a, b) for a, b in sem_truth if np.array_equal(vecs[a], vecs[b])}
    s = pq.read_table(f"{out}/semdedup").to_pydict()
    sem = {(min(a, b), max(a, b)) for a, b in zip(s["id_keep"], s["id_drop"])}
    loose = {(a, b) for a, b in sem if cos[a, b] < SEM_THRESHOLD - 1e-3}
    if loose or not ident <= sem:
        problems.append(f"llm_curation: semanticDups has {len(loose)} pairs below the threshold "
                        f"and misses {len(ident - sem)} identical pairs")

    qt = pq.read_table(f"{src}/queries.parquet").to_pydict()
    qv = np.array(qt["embedding"], dtype=np.float64)
    qunit = qv / np.linalg.norm(qv, axis=1, keepdims=True)
    qrow = {qid: r for r, qid in enumerate(qt["vec_id"])}
    hits = defaultdict(set)
    with open(c["topk"]) as f:
        for line in f:
            if line.strip():
                qid, _rnk, cand_id = map(int, line.split("\t"))
                hits[qid].add(cand_id)
    served = {qid for qid, b in zip(qt["vec_id"], qt["batch"]) if b < c["batches_served"]}
    recalls = []
    for qid in served:
        sims = unit @ qunit[qrow[qid]]
        exact = set(vid[np.argsort(-sims, kind="stable")[:TOPK]].tolist())
        recalls.append(len(exact & hits.get(qid, set())) / TOPK)
    recall = float(np.mean(recalls)) if recalls else 0.0
    if recall < recall_floor:
        problems.append(f"llm_curation: indexTopK recall@{TOPK} {recall:.3f} "
                        f"below the floor {recall_floor}")
    return problems, {"recall_at_10": recall, "docs": len(ids)}
