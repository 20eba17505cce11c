"""Seeded input generators for the graft benchmark.

Every table is written as one parquet file with the schema of the graft
dataset layout (`documents`, `embeddings`), so the library reads the
generated directory like any other dataset directory. The same seed always
gives the same bytes; shapes (row counts, shares) are fixed per workload:

  corpus_etl         documents plus a fixed share of injected exact and
                     near-duplicate copies
  retrieval_serving  base corpus to index, plus a request plan: Zipf-popular
                     query ids, arrivals and takedowns

Both workloads also get the small inputs of the traced-only layer probes
(`layer_inputs`): TPC-H-shaped tables for one capex job, and event batch
files for a sessionizing stream.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Vocabulary of the synthetic corpus (the graft test corpus uses the same
# 32 words, so the text operators see their usual token statistics).
VOCAB = ("a agg batch big column customer data dup fast filter group hash "
         "join key line merge order part query row scan slow small sort "
         "spark stream table the value vector window").split()
LANGS = (["en"] * 41 + ["es"] * 15 + ["zh"] * 15 + ["de"] * 14 + ["fr"] * 15)
N_SOURCES = 20
DIM = 64

# corpus_etl: original documents + injected copies
CORPUS_DOCS = 500
EXACT_DUP_SHARE = 0.05
NEAR_DUP_SHARE = 0.05
# retrieval_serving: base corpus (documents with a vector-carrying prefix)
SERVE_DOCS = 2_000
SERVE_VECS = 2_000
SERVE_REQUESTS = 1_000        # request plan length (a run uses a prefix)
SERVE_QUERY_BATCH = 10        # distinct Zipf-drawn ids per read request
SERVE_TEMPLATES = 200         # distinct read requests, chosen by Zipf
SERVE_WRITE_EVERY = 4         # every 4th request is a write (25 % writes)
SERVE_ARRIVAL_ROWS = 5        # rows per arrival write
SERVE_TAKEDOWN_ROWS = 2       # ids per takedown write
ZIPF_S = 1.1
# traced-only layer probes: capex tables at the size of TPC-H sf0.001
# (1,500 orders, 1-7 lineitems each), and event batch files for the stream
CAPEX_ORDERS = 1_500
CAPEX_CUSTOMERS = 150
CAPEX_PARTS = 200
CAPEX_SUPPLIERS = 10
REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
N_NATIONS = 25
STREAM_BATCHES = 4
STREAM_BATCH_EVENTS = 500
STREAM_USERS = 50
STREAM_MEAN_GAP_S = 90        # mean time between two events of the stream
EVENT_TYPES = ("view", "click", "add_to_cart", "purchase", "signup", "error")


def _write(table: pa.Table, path: str) -> int:
    pq.write_table(table, path)
    return os.path.getsize(path)


def _text(rng) -> str:
    n = int(rng.integers(8, 100))
    return " ".join(VOCAB[i] for i in rng.integers(0, len(VOCAB), n))


def _near_copy(rng, text: str) -> str:
    """Replace two tokens: a near-duplicate that shingle overlap still links."""
    toks = text.split(" ")
    for _ in range(2):
        toks[int(rng.integers(0, len(toks)))] = VOCAB[int(rng.integers(0, len(VOCAB)))]
    return " ".join(toks)


def documents(rng, n_docs: int, exact_share: float, near_share: float):
    """n_docs originals plus injected copies at ids n_docs.. (returns columns).

    The copies get fresh ids that keep the `doc_id % 50 == 0` benchmark-set
    convention of the decontamination operators: an id that would land on a
    multiple of 50 is skipped, so every injected copy is a training doc.
    """
    texts = [_text(rng) for _ in range(n_docs)]
    ids = list(range(n_docs))
    n_exact = int(round(n_docs * exact_share))
    n_near = int(round(n_docs * near_share))
    src = rng.integers(0, n_docs, n_exact + n_near)
    nxt = n_docs
    for j, s in enumerate(src):
        while nxt % 50 == 0:
            nxt += 1
        t = texts[s] if j < n_exact else _near_copy(rng, texts[s])
        texts.append(t)
        ids.append(nxt)
        nxt += 1
    n = len(ids)
    langs = np.array(LANGS)[rng.integers(0, len(LANGS), n)]
    sources = [f"src{int(i)}" for i in rng.integers(0, N_SOURCES, n)]
    cols = {"doc_id": pa.array(ids, pa.int64()), "text": texts,
            "lang": langs, "source": sources,
            "n_chars": pa.array([len(t) for t in texts], pa.int64())}
    return cols, n_exact, n_near


def _unit_vectors(rng, n):
    x = rng.standard_normal((n, DIM)).astype("float32")
    return x / np.linalg.norm(x, axis=1, keepdims=True)


def embeddings_table(rng, ids) -> pa.Table:
    return pa.table({
        "vec_id": pa.array(ids, pa.int64()),
        "embedding": pa.array(list(_unit_vectors(rng, len(ids))), type=pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, len(ids)), pa.int32())})


def gen_corpus(rng, out):
    cols, n_exact, n_near = documents(rng, CORPUS_DOCS, EXACT_DUP_SHARE, NEAR_DUP_SHARE)
    sizes = {"documents": _write(pa.table(cols), f"{out}/documents.parquet")}
    n = len(cols["doc_id"])
    dup_share = 1 - len(set(cols["text"])) / n
    return {"sizes_bytes": sizes, "documents_rows": n,
            "injected_exact": n_exact, "injected_near": n_near,
            "exact_dup_share_measured": round(dup_share, 6),
            "injected_dup_share": round((n_exact + n_near) / n, 6)}


def _zipf(rng, n):
    """Sampler of Zipf(ZIPF_S) draws over one seeded permutation of range(n)."""
    p = np.arange(1, n + 1, dtype="float64") ** -ZIPF_S
    p /= p.sum()
    perm = rng.permutation(n)
    return lambda count: perm[rng.choice(n, count, p=p)]


def gen_serving(rng, out):
    """Base corpus + request plan.

    plan.txt has one request per line: `read <ids>` (hybrid top-k for the
    query ids), `append <ids>` (arrivals: vectors and documents with the
    same ids), `delete <ids>` (takedowns) or `compact`. Writes take one slot
    in every SERVE_WRITE_EVERY, the second one, so every run reaches one,
    and cycle append, delete, append, compact; read ids come from
    Zipf-popular request templates, so requests repeat. warmup.txt holds
    the writes the client makes before it measures: an arrival, a
    takedown, a compaction that folds it in and a second takedown, so
    measured reads see an index that has grown, been compacted and has
    live tombstones.
    """
    cols, _, _ = documents(rng, SERVE_DOCS, 0.0, 0.0)
    sizes = {"documents": _write(pa.table(cols), f"{out}/documents.parquet")}
    sizes["embeddings"] = _write(embeddings_table(rng, np.arange(SERVE_VECS)),
                                 f"{out}/embeddings.parquet")
    popular_id, popular_template = _zipf(rng, SERVE_VECS), _zipf(rng, SERVE_TEMPLATES)
    templates = []
    for _ in range(SERVE_TEMPLATES):
        ids = set()
        while len(ids) < SERVE_QUERY_BATCH:
            ids.add(int(popular_id(1)[0]))
        templates.append(sorted(ids))
    # takedowns never hit ids < 10: those are the batch probe's queries
    takedowns = [int(x) for x in rng.permutation(np.arange(10, SERVE_VECS))]
    arrivals = []

    def write(kind):
        if kind == "append":
            ids = list(range(1_000_000 + len(arrivals),
                             1_000_000 + len(arrivals) + SERVE_ARRIVAL_ROWS))
            arrivals.extend(ids)
            return "append " + ",".join(map(str, ids))
        if kind == "delete":
            return "delete " + ",".join(str(takedowns.pop()) for _ in range(SERVE_TAKEDOWN_ROWS))
        return "compact"

    warmup = [write(k) for k in ("append", "delete", "compact", "delete")]
    lines = []
    cycle = ("append", "delete", "append", "compact")
    seen, n_repeat, n_reads, n_writes = set(), 0, 0, 0
    for i in range(SERVE_REQUESTS):
        if i % SERVE_WRITE_EVERY == 1:
            lines.append(write(cycle[n_writes % len(cycle)]))
            n_writes += 1
        else:
            t = int(popular_template(1)[0])
            n_repeat += t in seen
            seen.add(t)
            n_reads += 1
            lines.append("read " + ",".join(map(str, templates[t])))
    os.makedirs(f"{out}/arrivals", exist_ok=True)
    sizes["arrivals_embeddings"] = _write(embeddings_table(rng, arrivals),
                                          f"{out}/arrivals/embeddings.parquet")
    acols, _, _ = documents(rng, len(arrivals), 0.0, 0.0)
    acols["doc_id"] = pa.array(arrivals, pa.int64())
    sizes["arrivals_documents"] = _write(pa.table(acols), f"{out}/arrivals/documents.parquet")
    with open(f"{out}/plan.txt", "w") as f:
        f.write("\n".join(lines) + "\n")
    with open(f"{out}/warmup.txt", "w") as f:
        f.write("\n".join(warmup) + "\n")
    return {"sizes_bytes": sizes, "documents_rows": SERVE_DOCS,
            "embeddings_rows": SERVE_VECS, "requests_planned": SERVE_REQUESTS,
            "write_share_planned": round(n_writes / SERVE_REQUESTS, 6),
            "repeat_share_planned": round(n_repeat / n_reads, 6)}


def _days(rng, n, start=datetime.datetime(1992, 1, 1), span_days=2_400):
    """n timestamps at whole days from `start` (tz-naive, like TPC-H dates)."""
    d = rng.integers(0, span_days, n)
    return pa.array([start + datetime.timedelta(days=int(x)) for x in d], pa.timestamp("us"))


def _money(rng, lo, hi, n):
    return pa.array(np.round(rng.uniform(lo, hi, n), 2), pa.float64())


def gen_capex(rng, out):
    """TPC-H-shaped region/nation/customer/orders/lineitem for one capex job
    (the tables and column types `CapexDerive.raw` reads)."""
    os.makedirs(out, exist_ok=True)
    nk = np.arange(N_NATIONS)
    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
                            "r_name": list(REGIONS)}),
        "nation": pa.table({"n_nationkey": pa.array(nk, pa.int32()),
                            "n_name": [f"NATION_{i}" for i in nk],
                            "n_regionkey": pa.array(nk % len(REGIONS), pa.int32())}),
        "customer": pa.table({
            "c_custkey": pa.array(range(CAPEX_CUSTOMERS), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(CAPEX_CUSTOMERS)],
            "c_nationkey": pa.array(rng.integers(0, N_NATIONS, CAPEX_CUSTOMERS), pa.int32()),
            "c_acctbal": _money(rng, -999, 9999, CAPEX_CUSTOMERS),
            "c_mktsegment": pa.array(np.array(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                               "HOUSEHOLD", "MACHINERY"])[
                rng.integers(0, 5, CAPEX_CUSTOMERS)])}),
        "orders": pa.table({
            "o_orderkey": pa.array(range(CAPEX_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, CAPEX_CUSTOMERS, CAPEX_ORDERS), pa.int64()),
            "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, CAPEX_ORDERS)]),
            "o_totalprice": _money(rng, 1_000, 400_000, CAPEX_ORDERS),
            "o_orderdate": _days(rng, CAPEX_ORDERS),
            "o_orderpriority": pa.array(np.array(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                                  "4-NOT SPECIFIED", "5-LOW"])[
                rng.integers(0, 5, CAPEX_ORDERS)])}),
    }
    lines = rng.integers(1, 8, CAPEX_ORDERS)
    n = int(lines.sum())
    qty = rng.integers(1, 51, n).astype("float64")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(CAPEX_ORDERS), lines), pa.int64()),
        "l_partkey": pa.array(rng.integers(0, CAPEX_PARTS, n), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, CAPEX_SUPPLIERS, n), pa.int64()),
        "l_linenumber": pa.array(np.concatenate([np.arange(1, k + 1) for k in lines]), pa.int32()),
        "l_quantity": pa.array(qty, pa.float64()),
        "l_extendedprice": pa.array(np.round(qty * rng.uniform(900, 2_100, n), 2), pa.float64()),
        "l_discount": pa.array(rng.integers(0, 11, n) / 100.0, pa.float64()),
        "l_tax": pa.array(rng.integers(0, 9, n) / 100.0, pa.float64()),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n)]),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n)]),
        "l_shipdate": _days(rng, n),
    })
    return {f"capex_{t}": _write(tab, f"{out}/{t}.parquet") for t, tab in tables.items()}, n


def gen_events(rng, out):
    """STREAM_BATCHES files of STREAM_BATCH_EVENTS events each, in event-time
    order: file i holds the i-th slice of one seeded event stream."""
    os.makedirs(out, exist_ok=True)
    n = STREAM_BATCHES * STREAM_BATCH_EVENTS
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    gaps = rng.exponential(STREAM_MEAN_GAP_S * 1e6, n).astype("int64")
    ts = t0 + np.cumsum(gaps).astype("timedelta64[us]")
    users, types = rng.integers(0, STREAM_USERS, n), rng.integers(0, len(EVENT_TYPES), n)
    sizes = {}
    for b in range(STREAM_BATCHES):
        sl = slice(b * STREAM_BATCH_EVENTS, (b + 1) * STREAM_BATCH_EVENTS)
        k = STREAM_BATCH_EVENTS
        sizes[f"events_batch{b}"] = _write(pa.table({
            "event_id": pa.array(np.arange(n)[sl], pa.int64()),
            # UTC-adjusted micros: Spark reads them as TIMESTAMP, the type
            # of StreamOps.Event.ts
            "ts": pa.array(ts[sl], pa.timestamp("us", tz="UTC")),
            "user_id": pa.array(users[sl], pa.int64()),
            "event_type": pa.array(np.array(EVENT_TYPES)[types[sl]]),
            "value": pa.array(np.round(rng.uniform(1, 200, k), 2), pa.float64()),
        }), f"{out}/batch-{b:03d}.parquet")
    return sizes


def layer_inputs(rng, out):
    """Inputs of the traced-only layer probes, under `capex/` and `events/`."""
    sizes, lineitems = gen_capex(rng, f"{out}/capex")
    sizes.update(gen_events(rng, f"{out}/events"))
    return {"layer_sizes_bytes": sizes, "capex_lineitem_rows": lineitems,
            "events_rows": STREAM_BATCHES * STREAM_BATCH_EVENTS,
            "events_batches": STREAM_BATCHES}


GENERATORS = {"corpus_etl": gen_corpus, "retrieval_serving": gen_serving}


def generate(workload: str, seed: int, out: str) -> dict:
    os.makedirs(out, exist_ok=True)
    rng = np.random.default_rng([seed, sorted(GENERATORS).index(workload)])
    info = GENERATORS[workload](rng, out)
    info.update(layer_inputs(rng, out))
    info["seed"] = seed
    return info
