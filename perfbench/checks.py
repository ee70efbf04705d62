"""Correctness checks and metric derivation for the raw records that the
harness JVM writes.

Exact answers are computed here, independently of the engine: top-k by
brute force over the generated vectors (in the engine's ``(dist,
block_id)`` order), permissions from the documented derivation, the
relational queries with DuckDB.
"""

import os
from collections import defaultdict

import numpy as np

import stats

K = 10
N_ROLES = 10
# strategies that over-fetch or probe a subset: scored by recall, not
# required to equal the exact answer
APPROXIMATE = {"rbac.postfilterTopK", "ann.predicateAwareSearch"}
GRAPH_RECALL_FLOOR = 0.5
LAYOUT_DIRS = {"blocks_by_role": "sources.role_layout_mb",
               "blocks_by_costmodel": "sources.costmodel_layout_mb"}
MB = 1 << 20


# ---------------------------------------------------------------- exact answers

def l2(vecs, q):
    """Engine-identical L2: float32 inputs widened to double, squares
    summed in coordinate order, then the square root."""
    d = vecs.astype(np.float64) - q.astype(np.float64)
    s = np.zeros(len(vecs))
    for i in range(d.shape[1]):
        s += d[:, i] * d[:, i]
    return np.sqrt(s)


def user_roles(u):
    return {u % N_ROLES, (u * 3 + 1) % N_ROLES}


def accessible(n, u):
    """Mask over doc ids 0..n-1: role r grants doc d iff d % 10 == r or
    (d / 10) % 10 == r; block b belongs to doc b."""
    d = np.arange(n)
    roles = list(user_roles(u))
    return np.isin(d % N_ROLES, roles) | np.isin((d // 10) % N_ROLES, roles)


class ServeTruth:
    def __init__(self, vecs):
        dist = l2(vecs, vecs[0])  # the engine's query vector is vec_id 0
        self.order = np.lexsort((np.arange(len(vecs)), dist))
        self.n = len(vecs)
        self._cache = {}

    def topk(self, u):
        if u not in self._cache:
            mask = accessible(self.n, u)
            self._cache[u] = (self.order[mask[self.order]][:K].tolist(), mask)
        return self._cache[u]


# ---------------------------------------------------------------- helpers

def layout_bytes(root):
    """Bytes of every materialized layout directory under ``root``."""
    out = defaultdict(int)
    for d, _, files in os.walk(root):
        for kind in LAYOUT_DIRS.keys() & set(d.split(os.sep)):
            out[kind] += sum(os.path.getsize(os.path.join(d, f))
                             for f in files if f.endswith(".parquet"))
    return out


def by_qid_spans(raw):
    spans = stats.attach_orphans(raw["spans"])
    selfs = stats.self_times(spans)
    per = defaultdict(dict)
    for s in spans:
        if s["name"] != "spark.job":
            per[s["qid"]][s["name"]] = (s["end"] - s["start"], selfs[s["id"]])
    return per


def layer_metrics(raw, calls, n_vecs):
    """Per-layer metrics over the traced ``calls`` (means per call), the
    probes, and a per-call-name breakdown."""
    spans = by_qid_spans(raw)
    counters = raw["counters"]
    zero = dict.fromkeys(("jobs", "stages", "tasks", "task_cpu_ms", "task_run_ms",
                          "task_wait_ms", "input_bytes", "input_records", "shuffle_bytes",
                          "spill_bytes"), 0.0)
    rows = []
    for c in calls:
        sp = spans[c["qid"]]
        ct = counters.get(str(c["qid"]), zero)
        rows.append({
            "name": c["name"], "ms": c["t1"] - c["t0"], "rows": c["rows"],
            "call_ms": sp["graft.call"][0], "call_self_ms": sp["graft.call"][1],
            "plan_ms": sp["spark.plan"][0], "exec_ms": sp["spark.exec"][0],
            "exec_self_ms": sp["spark.exec"][1], **ct})
    mean = lambda k: float(np.mean([r[k] for r in rows]))
    m = {
        "call.p50_ms": (stats.percentile([r["ms"] for r in rows], 50), "ms"),
        "graft.call_ms": (mean("call_ms"), "ms"),
        "graft.call_self_ms": (mean("call_self_ms"), "ms"),
        "spark.plan_ms": (mean("plan_ms"), "ms"),
        "spark.exec_ms": (mean("exec_ms"), "ms"),
        "spark.exec_self_ms": (mean("exec_self_ms"), "ms"),
        "spark.jobs": (mean("jobs"), "count"),
        "spark.stages": (mean("stages"), "count"),
        "spark.tasks": (mean("tasks"), "count"),
        "spark.task_cpu_ms": (mean("task_cpu_ms"), "ms"),
        "spark.task_run_ms": (mean("task_run_ms"), "ms"),
        "spark.task_wait_ms": (mean("task_wait_ms"), "ms"),
        "spark.input_mb": (mean("input_bytes") / MB, "MB"),
        "spark.shuffle_mb": (mean("shuffle_bytes") / MB, "MB"),
        "spark.spill_mb": (mean("spill_bytes") / MB, "MB"),
        "scan.rows_per_result": (stats.rows_per_result(
            [r["input_records"] for r in rows], [r["rows"] for r in rows]), "ratio"),
    }
    probes = [c for c in raw["calls"] if c["phase"] == "probe" and not c["error"]]
    acc = [c["t1"] - c["t0"] for c in probes if c["name"] == "rbac.accessibleDocs"]
    scan = [c["t1"] - c["t0"] for c in probes if c["name"] == "functions.l2_dist"]
    m["rbac.accessibleDocs_ms"] = (stats.percentile(acc, 50), "ms")
    m["functions.l2_dist_mrows_s"] = (n_vecs / stats.percentile(scan, 50) / 1e3, "Mrows/s")

    by_call = defaultdict(list)
    for r in rows:
        by_call[r["name"]].append(r)
    breakdown = {}
    for name, rs in by_call.items():
        breakdown[name] = {"n": len(rs), "p50_ms": stats.percentile([r["ms"] for r in rs], 50)}
        for k in ("call_ms", "call_self_ms", "plan_ms", "exec_ms", "jobs", "stages", "tasks",
                  "task_cpu_ms", "task_wait_ms"):
            breakdown[name][k] = float(np.mean([r[k] for r in rs]))
        breakdown[name]["shuffle_mb"] = float(np.mean([r["shuffle_bytes"] for r in rs])) / MB
    return m, breakdown


def _failure(errors, call, why):
    errors.append(f"{call['phase']}/{call['name']}: {why}")


# ---------------------------------------------------------------- serve

def evaluate_serve(raw, plan, truth, run_dir):
    t = ServeTruth(truth["vecs"])
    errors, recalls = [], []
    for c in raw["calls"]:
        if c["error"]:
            _failure(errors, c, c["error"])
            continue
        if c["phase"] == "probe":
            continue
        exact, mask = t.topk(c["user"])
        ids = c["ids"]
        if any(not mask[i] for i in ids):
            _failure(errors, c, f"user {c['user']} got an inaccessible block")
        elif c["name"] in APPROXIMATE:
            if c["phase"] == "warm":
                recalls.append(len(set(ids) & set(exact)) / len(exact))
        elif ids != exact:
            _failure(errors, c, f"user {c['user']}: {ids} != exact {exact}")

    phases = raw["phases"]
    timed = [c for c in raw["calls"] if c["phase"] == "timed"
             and c["t1"] <= phases["timed.deadline"][0] and not c["error"]]
    build_s = (phases["setup"][1] - phases["setup"][0]) / 1e3
    layouts = layout_bytes(os.path.join(run_dir, "tmp"))
    emb_bytes = os.path.getsize(os.path.join(plan["dir"], "embeddings.parquet"))
    end_to_end = {
        "calls_per_s": (stats.closed_loop_rate(
            [(c["client"], c["t1"]) for c in timed], phases["timed"][0]) * 1e3, "1/s"),
        "recall_at_10": (float(np.mean(recalls)), "ratio"),
        "build_s": (build_s, "s"),
        "space_amp": (sum(layouts.values()) / emb_bytes, "ratio"),
        "setup_s": (raw["session_ms"] / 1e3 + build_s, "s"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }
    return _report(raw, plan, errors, end_to_end, timed, layouts, t.n)


def _report(raw, plan, errors, end_to_end, traced_calls, layouts, n_vecs):
    """The run's report; a traced run's per-layer metrics carry its
    end-to-end metrics too, as ``traced.<name>``: their difference from
    an untraced run of the same seed is the tracing overhead."""
    report = {"attempted": len(raw["calls"]), "failed": len(errors), "errors": errors,
              "end_to_end": end_to_end, "by_call": {}}
    if plan["trace"]:
        m, report["by_call"] = layer_metrics(raw, traced_calls, n_vecs)
        for kind, metric in LAYOUT_DIRS.items():
            m[metric] = (layouts.get(kind, 0) / MB, "MB")
        m.update((f"traced.{k}", v) for k, v in end_to_end.items())
        report["per_layer"] = m
    return report


# ---------------------------------------------------------------- batch

def _duck(pipe_dir):
    import duckdb
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders", "lineitem"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{pipe_dir}/{t}.parquet')")
    return con


ORACLE_SQL = {
    "operators.q5LocalVolume": """
        SELECT n_name, round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey JOIN nation ON c_nationkey = n_nationkey
        GROUP BY n_name ORDER BY revenue DESC, n_name""",
    "operators.q7NationVolume": """
        SELECT n1.n_name, n2.n_name, year(l_shipdate) AS y,
               round(sum(l_extendedprice * (1 - l_discount)), 4)
        FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation n1 ON s_nationkey = n1.n_nationkey
        JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey
        JOIN nation n2 ON c_nationkey = n2.n_nationkey
        WHERE n1.n_name <> n2.n_name AND year(l_shipdate) = 1997
        GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""",
    "operators.q8MarketShare": """
        SELECT year(o_orderdate) AS y,
               round(sum(CASE WHEN ns.n_name = 'NATION_3' THEN v ELSE 0 END) / sum(v), 4)
        FROM (SELECT *, l_extendedprice * (1 - l_discount) AS v FROM lineitem) l
        JOIN orders ON l_orderkey = o_orderkey JOIN customer ON o_custkey = c_custkey
        JOIN nation nc ON c_nationkey = nc.n_nationkey
        JOIN region ON nc.n_regionkey = r_regionkey AND r_name = 'EUROPE'
        JOIN supplier ON l_suppkey = s_suppkey JOIN nation ns ON s_nationkey = ns.n_nationkey
        GROUP BY 1 ORDER BY 1""",
    # partsupp is derived by formula: 4 suppliers per part
    "operators.q2MinCostSupplier": """
        WITH ps AS (
          SELECT p_partkey AS pk, (p_partkey * 7 + i * 13) % ns AS sk
          FROM part, range(4) r(i), (SELECT count(*) AS ns FROM supplier)),
        j AS (
          SELECT pk, ((pk * 13 + sk * 5) % 9000 + 100) / 100.0::DOUBLE AS cost,
                 s_acctbal, s_name, n_name
          FROM ps JOIN supplier ON sk = s_suppkey JOIN nation ON s_nationkey = n_nationkey
          WHERE n_regionkey = 1),
        mc AS (SELECT pk AS mpk, min(cost) AS mcost FROM j GROUP BY 1)
        SELECT s_acctbal, s_name, n_name, p_partkey, p_brand, cost
        FROM j JOIN mc ON pk = mpk AND cost = mcost JOIN part ON pk = p_partkey
        WHERE p_type = 'STANDARD'
        ORDER BY s_acctbal DESC, n_name, s_name, p_partkey LIMIT 100""",
}


def _same_rows(got, want):
    if len(got) != len(want):
        return False
    for g, w in zip(got, want):
        if len(g) != len(w):
            return False
        for a, b in zip(g, w):
            if isinstance(b, float) or isinstance(a, float):
                if abs(float(a) - float(b)) > 1e-4 + 1e-9 * abs(float(b)):
                    return False
            elif a != b:
                return False
    return True


def _shingles(text, n=3):
    w = text.split(" ")
    return {" ".join(w[i:i + n]) for i in range(len(w) - n + 1)}


def check_batch_call(c, truth, duck, docs, errors):
    """Check one batch step's output; returns the graph recall when the
    step is the graph walk."""
    name, data = c["name"], c["data"]
    if name in ORACLE_SQL:
        want = [list(r) for r in duck.execute(ORACLE_SQL[name]).fetchall()]
        if not want or not _same_rows(data, want):
            _failure(errors, c, f"rows differ from the DuckDB oracle ({len(data)} vs {len(want)})")
    elif name == "dedup.minhashLsh":
        base = truth["base_docs"]
        for a, b, jac in data:
            ja, jb = _shingles(docs[a]), _shingles(docs[b])
            exact = len(ja & jb) / len(ja | jb)
            if a % base != b % base or jac < 0.8 or abs(exact - jac) > 1e-3:
                _failure(errors, c, f"pair ({a}, {b}, {jac}) is not a near-duplicate")
                break
        if not data:
            _failure(errors, c, "no near-duplicate pairs")
    elif name == "operators.docsTrainingPipeline":
        for doc_id, source, n_words in data:
            if source == "src0" or n_words < 20 or len(docs[doc_id].split(" ")) != n_words:
                _failure(errors, c, f"doc {doc_id} should not pass the gates")
                break
        if not data:
            _failure(errors, c, "empty training set")
    elif name == "ann.graphTopKFor":
        got = defaultdict(list)
        for qid, block, rank in sorted(data, key=lambda r: (r[0], r[2])):
            got[qid].append(block)
        recalls = []
        for qid, q in enumerate(truth["queries"]):
            d = l2(truth["vecs"], q)
            exact = np.lexsort((np.arange(len(d)), d))[:K]
            recalls.append(len(set(got[qid]) & set(exact.tolist())) / K)
        recall = float(np.mean(recalls))
        if recall < GRAPH_RECALL_FLOOR:
            _failure(errors, c, f"graph recall {recall:.3f} below {GRAPH_RECALL_FLOOR}")
        return recall
    elif name == "text.quality" and c["rows"] != len(docs):
        _failure(errors, c, f"{c['rows']} quality rows for {len(docs)} docs")
    elif name == "dedup.substringSpans" and c["rows"] == 0:
        _failure(errors, c, "no shared spans in a corpus of copies")
    return None


def check_role_layout(path, n_blocks, errors, call):
    """Every block sits in the partition of each role granting it."""
    import pyarrow.dataset as ds
    t = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["partition_role", "block_id"])
    got = sorted(zip(t.column("partition_role").to_pylist(), t.column("block_id").to_pylist()))
    want = sorted({(b % N_ROLES, b) for b in range(n_blocks)}
                  | {((b // 10) % N_ROLES, b) for b in range(n_blocks)})
    if got != want:
        _failure(errors, call, f"role layout has {len(got)} rows, expected {len(want)}")


def evaluate_batch(raw, plan, truth, run_dir):
    import pyarrow.parquet as pq
    duck = _duck(truth["pipe"])
    docs = pq.read_table(os.path.join(truth["pipe"], "documents.parquet"),
                         columns=["text"]).column("text").to_pylist()
    errors, recall, layouts = [], None, {}
    for c in raw["calls"]:
        if c["error"]:
            _failure(errors, c, c["error"])
        elif c["phase"] in ("build", "pipeline"):
            r = check_batch_call(c, truth, duck, docs, errors)
            recall = r if r is not None else recall
            if c["name"] == "sources.materializeRoleLayout":
                check_role_layout(c["value"], len(truth["vecs"]), errors, c)
                layouts.update(layout_bytes(c["value"]))

    phases = raw["phases"]
    span = lambda p: (phases[p][1] - phases[p][0]) / 1e3
    main = [c for c in raw["calls"] if c["phase"] in ("build", "pipeline")]
    emb_bytes = os.path.getsize(os.path.join(plan["main"]["build"], "embeddings.parquet"))
    end_to_end = {
        "calls_per_s": (len(main) / (span("build") + span("pipeline")), "1/s"),
        "recall_at_10": (recall if recall is not None else 0.0, "ratio"),
        "build_s": (span("build"), "s"),
        "space_amp": (sum(layouts.values()) / emb_bytes, "ratio"),
        "setup_s": (raw["session_ms"] / 1e3 + span("warm.build") + span("warm.pipeline"), "s"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }
    return _report(raw, plan, errors, end_to_end, main, layouts, len(truth["vecs"]))
