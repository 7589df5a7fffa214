"""Seeded input generation for the three workloads.

Everything the engine reads is written here, from the seed alone:

- pos_daily: TPC-H-shaped `orders`/`lineitem` (the columns
  `graft.etl.Pos.rawReport` reads) and a delivery plan
  `deliveries.parquet` (day, seq, o_orderkey). Each day delivers fresh
  orders plus a share of re-delivered earlier orders. The engine-side
  set-up turns the plan into one .xlsx workbook per day.
- table_churn: a 150k-row `orders` base (8 parquet files) and a
  statement stream `stmts.tsv` with its source batches as parquet.
- llm_curation: `documents`, `embeddings` (with planted exact and
  near duplicates) and seeded probe batches `queries.parquet`.
"""
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---- pos_daily ----
POS_DAYS = 5
POS_NEW_PER_DAY = 200
POS_REDELIVER_SHARE = 0.25

# ---- table_churn ----
CHURN_BASE_ROWS = 150_000
CHURN_CYCLES = 3
CHURN_MERGE_ROWS = 1500
CHURN_MERGE_NEW = 300
CHURN_APPEND_ROWS = 1000
CHURN_DELETE_SPAN = 150
CHURN_RANGE_SPAN = 2000
# one cycle: each write kind once, reads between the writes, one run of
# the CDC consumer (after the cycle's first commit), and maintenance
CHURN_CYCLE = ["merge", "cdc", "read", "delete", "read", "merge_clauses",
               "read", "append", "sql_merge", "optimize", "vacuum"]

# ---- llm_curation ----
LLM_DOCS = 1200
LLM_VECS = 800
LLM_DIM = 64
LLM_CENTERS = 32
LLM_BATCHES = 40
LLM_BATCH_SIZE = 8
LLM_QUERY_ID0 = 10_000_000
VOCAB = ("batch part spark line column order small sort fast value scan a hash "
         "slow group agg filter query big key window row table stream merge data "
         "vector customer join the of and to with that be have").split()

ORDER_STATUS = np.array(["F", "O", "P"])
PRIORITY = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])


def _orders(rng, keys, day_of_key=None):
    n = len(keys)
    if day_of_key is None:
        ts = np.datetime64("1995-01-01") + rng.integers(0, 2400, n).astype("timedelta64[D]")
        date = pa.array(ts.astype("datetime64[D]"), pa.date32())
    else:
        secs = day_of_key.astype("int64") * 86400 + rng.integers(8 * 3600, 22 * 3600, n)
        date = pa.array((np.datetime64("2026-01-01T00:00:00") +
                         secs.astype("timedelta64[s]")).astype("datetime64[us]"),
                        pa.timestamp("us"))
    return pa.table({
        "o_orderkey": pa.array(keys, pa.int64()),
        "o_custkey": pa.array(rng.integers(1, 15001, n), pa.int64()),
        "o_orderstatus": pa.array(ORDER_STATUS[rng.integers(0, 3, n)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n), 2)),
        "o_orderdate": date,
        "o_orderpriority": pa.array(PRIORITY[rng.integers(0, 5, n)]),
    })


def gen_pos(seed, out):
    rng = np.random.default_rng([seed, 1])
    os.makedirs(out, exist_ok=True)
    n = POS_DAYS * POS_NEW_PER_DAY
    keys = np.sort(rng.choice(10_000_000, n, replace=False)).astype("int64")
    day_of = np.repeat(np.arange(POS_DAYS), POS_NEW_PER_DAY)
    pq.write_table(_orders(rng, keys, day_of), f"{out}/orders.parquet")
    lines = rng.integers(1, 8, n)
    lk = np.repeat(keys, lines)
    ln = np.concatenate([np.arange(1, k + 1) for k in lines]).astype("int32")
    m = len(lk)
    pq.write_table(pa.table({
        "l_orderkey": pa.array(lk, pa.int64()),
        "l_partkey": pa.array(rng.integers(1, 20000, m), pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 1000, m), pa.int64()),
        "l_linenumber": pa.array(ln, pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, m).astype("float64")),
    }), f"{out}/lineitem.parquet")
    days, seqs, dkeys = [], [], []
    for d in range(POS_DAYS):
        fresh = keys[day_of == d]
        if d > 0:
            k = int(POS_REDELIVER_SHARE * POS_NEW_PER_DAY)
            again = rng.choice(keys[day_of < d], k, replace=False)
            fresh = np.concatenate([fresh, again])
        order = rng.permutation(len(fresh))
        days.append(np.full(len(fresh), d, "int32"))
        seqs.append(order.astype("int32"))
        dkeys.append(fresh)
    pq.write_table(pa.table({
        "day": pa.array(np.concatenate(days), pa.int32()),
        "seq": pa.array(np.concatenate(seqs), pa.int32()),
        "o_orderkey": pa.array(np.concatenate(dkeys), pa.int64()),
    }), f"{out}/deliveries.parquet")


def gen_churn(seed, out):
    rng = np.random.default_rng([seed, 2])
    os.makedirs(f"{out}/base", exist_ok=True)
    os.makedirs(f"{out}/batches", exist_ok=True)
    base = _orders(rng, np.arange(CHURN_BASE_ROWS, dtype="int64"))
    per = CHURN_BASE_ROWS // 8
    for i in range(8):
        pq.write_table(base.slice(i * per, per), f"{out}/base/part-{i}.parquet")
    next_key = CHURN_BASE_ROWS
    rows = []
    n_reads = 0

    def window(span):
        # a key window inside one base file, so every statement of a
        # kind touches the same number of files whatever the seed
        f = int(rng.integers(0, 8))
        return f * per + int(rng.integers(0, per - span))

    for c in range(CHURN_CYCLES):
        for op in CHURN_CYCLE:
            name, lo, hi = "", 0, 0
            if op in ("merge", "merge_clauses", "sql_merge"):
                start = window(CHURN_MERGE_ROWS)
                old = np.arange(start, start + CHURN_MERGE_ROWS - CHURN_MERGE_NEW)
                new = np.arange(next_key, next_key + CHURN_MERGE_NEW)
                next_key += CHURN_MERGE_NEW
                b = _orders(rng, np.concatenate([old, new]).astype("int64"))
                if op == "merge_clauses":
                    # a share of the source carries the delete marker
                    st = np.where(rng.random(b.num_rows) < 0.1, "D",
                                  b.column("o_orderstatus").to_numpy(zero_copy_only=False))
                    b = b.set_column(2, "o_orderstatus", pa.array(st))
                name = f"batches/{len(rows):04d}-{op}.parquet"
                pq.write_table(b, f"{out}/{name}")
            elif op == "append":
                new = np.arange(next_key, next_key + CHURN_APPEND_ROWS, dtype="int64")
                next_key += CHURN_APPEND_ROWS
                name = f"batches/{len(rows):04d}-{op}.parquet"
                pq.write_table(_orders(rng, new), f"{out}/{name}")
            elif op == "delete":
                lo = window(CHURN_DELETE_SPAN)
                hi = lo + CHURN_DELETE_SPAN - 1
            elif op == "read":
                # alternate point and range reads
                span = 1 if n_reads % 2 == 0 else CHURN_RANGE_SPAN
                lo = window(span)
                hi = lo + span - 1
                n_reads += 1
            rows.append(f"{op}\t{c}\t{name}\t{lo}\t{hi}")
    with open(f"{out}/stmts.tsv", "w") as f:
        f.write("\n".join(rows) + "\n")


def _texts(rng, n):
    lens = rng.integers(10, 90, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lens.sum()))]
    ends = np.cumsum(lens)
    return [" ".join(words[e - k:e]) for k, e in zip(lens, ends)]


def gen_llm(seed, out):
    rng = np.random.default_rng([seed, 3])
    os.makedirs(out, exist_ok=True)
    texts = _texts(rng, LLM_DOCS)
    # plant exact copies and near copies (one word replaced)
    for i in rng.choice(np.arange(1, LLM_DOCS), LLM_DOCS // 10, replace=False):
        src = texts[int(rng.integers(0, i))]
        if rng.random() < 0.5:
            texts[i] = src
        else:
            words = src.split(" ")
            words[int(rng.integers(0, len(words)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
            texts[i] = " ".join(words)
    langs = np.array(["en", "de", "fr", "es", "zh"])
    pq.write_table(pa.table({
        "doc_id": pa.array(np.arange(LLM_DOCS), pa.int64()),
        "text": pa.array(texts),
        "lang": pa.array(langs[rng.integers(0, 5, LLM_DOCS)]),
        "source": pa.array([f"src{j}" for j in rng.integers(0, 20, LLM_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), f"{out}/documents.parquet")

    centers = rng.normal(0, 1, (LLM_CENTERS, LLM_DIM))
    lab = rng.integers(0, LLM_CENTERS, LLM_VECS)
    vecs = centers[lab] + rng.normal(0, 0.6, (LLM_VECS, LLM_DIM))
    for i in rng.choice(np.arange(1, LLM_VECS), LLM_VECS // 20, replace=False):
        src = vecs[int(rng.integers(0, i))]
        vecs[i] = src if rng.random() < 0.5 else src + rng.normal(0, 0.01, LLM_DIM)
    vecs = vecs.astype("float32")
    pq.write_table(pa.table({
        "vec_id": pa.array(np.arange(LLM_VECS), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array((lab % 10).astype("int32")),
    }), f"{out}/embeddings.parquet")

    nq = LLM_BATCHES * LLM_BATCH_SIZE
    src = rng.integers(0, LLM_VECS, nq)
    qv = (vecs[src] + rng.normal(0, 0.3, (nq, LLM_DIM))).astype("float32")
    pq.write_table(pa.table({
        "vec_id": pa.array(LLM_QUERY_ID0 + np.arange(nq), pa.int64()),
        "batch": pa.array(np.repeat(np.arange(LLM_BATCHES), LLM_BATCH_SIZE).astype("int32")),
        "embedding": pa.array(list(qv), pa.list_(pa.float32())),
    }), f"{out}/queries.parquet")


GENERATORS = {"pos_daily": ("pos", gen_pos), "table_churn": ("churn", gen_churn),
              "llm_curation": ("llm", gen_llm)}


def generate(workload, seed, input_dir):
    sub, fn = GENERATORS[workload]
    fn(seed, os.path.join(input_dir, sub))
