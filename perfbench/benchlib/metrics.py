"""Metrics from what one run observed.

The pure helpers at the top (percentiles, interval unions, span self time)
carry the rules the metrics rest on and are unit-tested in
``tests/test_metrics.py``. ``end_to_end`` and ``per_layer`` turn the JSON
that ``graftbench.Main`` writes into the named metrics of BENCHMARK.json.
"""

import statistics

US = 1e6


# --------------------------------------------------------------------------
# pure helpers


def percentile(values, p: float) -> float:
    """The p-th percentile (0-100) by linear interpolation between ranks."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no values")
    pos = (len(xs) - 1) * p / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def reportable_percentile(n: int, candidates=(99, 95, 90, 50), beyond: int = 10):
    """The highest candidate percentile with at least ``beyond`` of ``n``
    samples above it, or None. p90 needs 100 samples, p99 needs 1000."""
    for p in sorted(candidates, reverse=True):
        if n * (100 - p) / 100.0 >= beyond - 1e-9:
            return p
    return None


def merge_intervals(intervals):
    """Sorted, disjoint union of (start, end) intervals."""
    out = []
    for s, e in sorted(i for i in intervals if i[1] > i[0]):
        if out and s <= out[-1][1]:
            out[-1][1] = max(out[-1][1], e)
        else:
            out.append([s, e])
    return [tuple(i) for i in out]


def covered(intervals, lo, hi) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    return sum(max(0, min(e, hi) - max(s, lo))
               for s, e in merge_intervals(intervals))


def driver_gap(op_start, op_end, job_intervals) -> float:
    """An op's wall time minus the union of its jobs' intervals: the time
    the driver spent outside any job (planning, scheduling, commits)."""
    return (op_end - op_start) - covered(job_intervals, op_start, op_end)


def self_times(spans):
    """Self time of every span: its duration minus the part of it covered by
    its children. ``spans`` maps id -> (parent id or None, start, end)."""
    kids = {}
    for sid, (parent, s, e) in spans.items():
        if parent is not None:
            kids.setdefault(parent, []).append((s, e))
    return {sid: (e - s) - covered(kids.get(sid, []), s, e)
            for sid, (_, s, e) in spans.items()}


def innermost(candidates, start, end):
    """Id of the shortest candidate (id, start, end) that contains
    [start, end], or None."""
    best = None
    for cid, s, e in candidates:
        if s <= start and end <= e and (best is None or e - s < best[1]):
            best = (cid, e - s)
    return best[0] if best else None


# --------------------------------------------------------------------------
# end-to-end metrics


def _median(xs, default=0.0):
    return statistics.median(xs) if xs else default


def op_medians(raw) -> dict:
    """Median latency of each op of the mix, with its sample count."""
    by = {}
    for o in raw["ops"]:
        by.setdefault(o["name"], []).append((o["end_us"] - o["start_us"]) / US)
    return {k: [statistics.median(v), len(v)] for k, v in by.items()}


def fail_count(raw) -> int:
    return sum(1 for o in raw["ops"] if o["error"] or o["check"])


def end_to_end(raw, setup_s: float, manifest: dict, passes=None) -> dict:
    """Every end-to-end metric that applies to the run, as
    {name: (value, unit, samples)}. ``passes`` restricts the timings to a
    set of pass numbers (the untraced passes of a traced run)."""
    keep = (lambda o: True) if passes is None else (lambda o: o["pass"] in passes)
    ops = [o for o in raw["ops"] if keep(o)]
    lat = lambda kind: [(o["end_us"] - o["start_us"]) / US for o in ops if o["kind"] == kind]
    reads, writes = lat("read"), lat("write")
    typical = op_medians({"ops": ops})
    m = {
        "setup_s": (setup_s, "s", len(raw["setup_reps_s"])),
        # the wall time of a typical pass: the sum over the mix of each op's
        # median latency, which one slow op in one pass cannot move much
        "run_s": (sum(v for v, _ in typical.values()), "s", min(n for _, n in typical.values())),
        "query_p50_s": (_median(reads), "s", len(reads)),
        "peak_rss_mb": (raw["vm_hwm_kb"] / 1024.0, "MB", 1),
        "fail_ratio": (fail_count(raw) / max(1, len(raw["ops"])), "ratio", len(raw["ops"])),
    }
    if reportable_percentile(len(reads), (90,)) == 90:
        m["query_p90_s"] = (percentile(reads, 90), "s", len(reads))
    if writes:
        m["write_p50_s"] = (_median(writes), "s", len(writes))
        ingest = [o for o in ops if o["name"] == "ingest"]
        layout = manifest.get("layout", {})
        docs = len(ingest) * (layout.get("chunk", 0) + layout.get("dups", 0)) * layout.get("replicas", 0)
        if docs:
            m["ingest_docs_per_s"] = (docs / sum(writes), "1/s", len(ingest))
    if raw.get("store_bytes"):
        used = 1 + max(o["pass"] for o in raw["ops"])
        doc_bytes = manifest["corpus_text_bytes"] + sum(manifest["chunk_text_bytes"][:used])
        m["store_bytes_per_input_byte"] = (raw["store_bytes"] / doc_bytes, "ratio", 1)
    return m


# --------------------------------------------------------------------------
# per-layer metrics


def _attribute_jobs(raw, ops):
    """op id -> [job], by the op property when a job carries one, else by the
    op whose interval holds the job's start (ops run one at a time)."""
    windows = [(o["id"], o["start_us"], o["end_us"]) for o in ops]
    by_op = {}
    for j in raw["jobs"]:
        op = j["op"] if j["op"] >= 0 else innermost(windows, j["start_us"], j["start_us"])
        if op is not None:
            by_op.setdefault(op, []).append(j)
    return by_op


def _attribute_actions(raw, ops):
    windows = [(o["id"], o["start_us"], o["end_us"]) for o in ops]
    by_op = {}
    for a in raw["actions"]:
        op = innermost(windows, a["end_us"], a["end_us"])
        if op is not None:
            by_op.setdefault(op, []).append(a)
    return by_op


def span_tree(raw, ops, jobs_by_op, actions_by_op):
    """Every span of the traced ops as id -> (parent, start, end, name): each
    op is a root; harness spans, planning phases and Spark jobs hang under
    the innermost span of their op that contains them."""
    tree = {}
    for o in ops:
        tree[("op", o["id"])] = (None, o["start_us"], o["end_us"], "op:" + o["name"])
    harness = {}
    for i, s in enumerate(raw["spans"]):
        harness.setdefault(s["op"], []).append((("span", i), s["start_us"], s["end_us"], s["name"]))

    def place(op_id, key, start, end, name, pool):
        cands = [(("op", op_id), tree[("op", op_id)][1], tree[("op", op_id)][2])]
        cands += [(k, s, e) for k, s, e, _ in pool if k != key]
        parent = innermost(cands, start, end) or ("op", op_id)
        tree[key] = (parent, start, end, name)

    for o in ops:
        pool = harness.get(o["id"], [])
        for k, s, e, n in sorted(pool, key=lambda x: -(x[2] - x[1])):
            place(o["id"], k, s, e, n, pool)
        for a_i, a in enumerate(actions_by_op.get(o["id"], [])):
            for ph, t in a["phases"].items():
                place(o["id"], ("phase", o["id"], a_i, ph), t["start_us"], t["end_us"],
                      "plans." + ph, pool)
        for j in jobs_by_op.get(o["id"], []):
            place(o["id"], ("job", j["job"]), j["start_us"], j["end_us"], "spark.job", pool)
    return tree


def per_layer(raw, cores: int, extras: dict) -> dict:
    """Every per-layer metric over the traced passes, as {name: (value,
    unit)}. Counts and times are per traced pass; ratios are over all
    traced passes."""
    traced = {p["pass"] for p in raw["passes"] if p["traced"]}
    n = max(1, len(traced))
    ops = [o for o in raw["ops"] if o["traced"]]
    jobs_by_op = _attribute_jobs(raw, ops)
    actions_by_op = _attribute_actions(raw, ops)
    stage_op = {s: op for op, js in jobs_by_op.items() for j in js for s in j["stages"]}
    tasks = [t for t in raw["tasks"] if t["stage"] in stage_op]
    wall = lambda o: (o["end_us"] - o["start_us"]) / US
    spans_of = {}
    for s in raw["spans"]:
        spans_of.setdefault(s["op"], []).append(s)
    named = lambda op, prefix: [s for s in spans_of.get(op, []) if s["name"].startswith(prefix)]
    ops_with = lambda name: [o for o in ops if named(o["id"], name)]
    tagged = lambda tag: [o for o in ops if tag in o["tags"]]
    jobs_of = lambda os: sum(len(jobs_by_op.get(o["id"], [])) for o in os)
    tasks_of = lambda os: [t for t in tasks if stage_op[t["stage"]] in {o["id"] for o in os}]
    tsum = lambda ts, k: sum(t.get(k, 0) for t in ts)
    actions = [a for o in ops for a in actions_by_op.get(o["id"], [])]
    phase_s = lambda ph: sum((a["phases"][ph]["end_us"] - a["phases"][ph]["start_us"]) / US
                             for a in actions if ph in a["phases"])

    m = {}
    api = [s for o in ops for s in named(o["id"], "api.sql")]
    m["api.sql_calls"] = (len(api) / n, "count")
    m["api.sql_s"] = (sum((s["end_us"] - s["start_us"]) / US for s in api) / n, "s")

    m["plans.analysis_s"] = (phase_s("analysis") / n, "s")
    m["plans.optimization_s"] = (phase_s("optimization") / n, "s")
    m["plans.planning_s"] = (phase_s("planning") / n, "s")
    m["plans.route_leapfrog"] = (sum(1 for a in actions if a["leapfrog"]) / n, "count")
    m["plans.route_binary"] = (
        sum(1 for a in actions if a["binary"] and not a["leapfrog"]) / n, "count")

    for key, tag in (("pattern", "graph.pattern"), ("cc", "graph.cc")):
        os_ = tagged(tag)
        m[f"graph.{key}_s"] = (sum(map(wall, os_)) / n, "s")
        m[f"graph.{key}_jobs"] = (jobs_of(os_) / n, "count")

    wcoj = [o for o in ops if "wcoj.hypercube" in o["tags"]
            or any(a["leapfrog"] for a in actions_by_op.get(o["id"], []))]
    wt = tasks_of(wcoj)
    cpu = tsum(wt, "cpu_ns") / 1e9
    m["wcoj.action_s"] = (sum((s["end_us"] - s["start_us"]) / US
                              for o in wcoj for s in named(o["id"], "action")) / n, "s")
    m["wcoj.task_cpu_s"] = (cpu / n, "s")
    m["wcoj.task_skew"] = (_median([_stage_skew(tasks_of([o]), raw["stages"]) for o in wcoj]),
                           "ratio")
    m["wcoj.shuffle_bytes"] = (tsum(wt, "shuffle_write") / n, "bytes")
    m["wcoj.rows_per_cpu_s"] = (sum(o["rows"] for o in wcoj) / cpu if cpu else 0.0, "1/s")

    op_calls = [o for o in ops if named(o["id"], "operators.")]
    for key in ("dedup", "ivf_build", "ivf_append", "ivf_search"):
        m[f"operators.{key}_s"] = (sum(map(wall, ops_with(f"operators.{key}"))) / n, "s")
    m["operators.jobs_per_call"] = (jobs_of(op_calls) / len(op_calls) if op_calls else 0.0,
                                    "count")
    recalls = extras.get("recalls", [])
    m["operators.ivf_recall"] = (_median(recalls), "ratio")

    prog = raw["progress"]
    trig = sum(p["trigger_ms"] for p in prog) / 1e3
    m["streaming.batches"] = (len(prog) / n, "count")
    m["streaming.batch_s"] = (_median([p["trigger_ms"] / 1e3 for p in prog]), "s")
    m["streaming.commit_s"] = (_median([p["commit_ms"] / 1e3 for p in prog]), "s")
    m["streaming.rows_per_s"] = (sum(p["rows"] for p in prog) / trig if trig else 0.0, "1/s")
    m["streaming.state_rows"] = (max([p["state_rows"] for p in prog], default=0), "count")

    m["tables.input_bytes"] = (tsum(tasks, "input_bytes") / n, "bytes")
    m["tables.input_rows"] = (tsum(tasks, "input_rows") / n, "count")

    jobs = [j for js in jobs_by_op.values() for j in js]
    run_s = sum((p["end_us"] - p["start_us"]) / US for p in raw["passes"] if p["traced"])
    task_run = tsum(tasks, "run_ms") / 1e3
    m["spark.jobs"] = (len(jobs) / n, "count")
    m["spark.stages"] = (len({s for j in jobs for s in j["stages"]} & {t["stage"] for t in tasks})
                         / n, "count")
    m["spark.tasks"] = (len(tasks) / n, "count")
    m["spark.failed_tasks"] = (sum(1 for t in tasks if t["failed"]) / n, "count")
    m["spark.task_run_s"] = (task_run / n, "s")
    m["spark.task_cpu_s"] = (tsum(tasks, "cpu_ns") / 1e9 / n, "s")
    m["spark.gc_s"] = (tsum(tasks, "gc_ms") / 1e3 / n, "s")
    m["spark.shuffle_write_bytes"] = (tsum(tasks, "shuffle_write") / n, "bytes")
    m["spark.shuffle_read_bytes"] = (tsum(tasks, "shuffle_read") / n, "bytes")
    m["spark.fetch_wait_s"] = (tsum(tasks, "fetch_wait_ms") / 1e3 / n, "s")
    m["spark.spill_bytes"] = (tsum(tasks, "spill") / n, "bytes")
    m["spark.peak_exec_mem_bytes"] = (max([t.get("peak_mem", 0) for t in tasks], default=0), "bytes")
    m["spark.output_bytes"] = (tsum(tasks, "output_bytes") / n, "bytes")
    gap = sum(driver_gap(o["start_us"], o["end_us"],
                         [(j["start_us"], j["end_us"]) for j in jobs_by_op.get(o["id"], [])])
              for o in ops) / US
    m["spark.driver_gap_s"] = (gap / n, "s")
    m["spark.core_busy_ratio"] = (task_run / (cores * run_s) if run_s else 0.0, "ratio")
    return m


def _stage_skew(tasks, stages) -> float:
    """Max over median task run time in the op's LeapFrog stage: the stage
    whose RDD scopes name the LeapFrog operator, else its heaviest stage."""
    by_stage = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t.get("run_ms", 0))
    if not by_stage:
        return 0.0
    lf = {s["stage"] for s in stages if any("LeapFrog" in c for c in s["scopes"])}
    pick = [s for s in by_stage if s in lf] or list(by_stage)
    stage = max(pick, key=lambda s: sum(by_stage[s]))
    med = statistics.median(by_stage[stage])
    return max(by_stage[stage]) / med if med else 1.0


def exclusive_times(tree) -> dict:
    """Split each root span's wall time among its spans: every instant goes
    to the deepest span covering it, so overlapping siblings (concurrent
    jobs) count once. ``tree`` maps id -> (parent, start, end, ...)."""
    def depth(k):
        d = 0
        while tree[k][0] is not None:
            k, d = tree[k][0], d + 1
        return d

    def root(k):
        while tree[k][0] is not None:
            k = tree[k][0]
        return k

    by_root = {}
    for k in tree:
        by_root.setdefault(root(k), []).append((depth(k), k))
    out = dict.fromkeys(tree, 0.0)
    for members in by_root.values():
        cuts = sorted({t for _, k in members for t in tree[k][1:3]})
        for lo, hi in zip(cuts, cuts[1:]):
            mid = (lo + hi) / 2
            live = [(d, k) for d, k in members if tree[k][1] <= mid < tree[k][2]]
            if live:
                out[max(live, key=lambda x: x[0])[1]] += hi - lo
    return out


def span_report(raw):
    """Every span of the traced ops with its self time, and each layer's
    exclusive time as a share of the traced wall time: where a workload's
    time goes. The layer of a span is the prefix of its name (``api``,
    ``plans``, ``spark``, ``graph``, …); ``action`` is driver time inside an
    action outside planning and jobs, ``op`` the harness's own time around
    the calls."""
    ops = [o for o in raw["ops"] if o["traced"]]
    tree = span_tree(raw, ops, _attribute_jobs(raw, ops), _attribute_actions(raw, ops))
    selfs = self_times({k: v[:3] for k, v in tree.items()})
    excl = exclusive_times(tree)
    ids = {k: i for i, k in enumerate(tree)}
    spans = [{"id": ids[k], "parent": ids.get(parent), "name": name, "start_us": s, "end_us": e,
              "self_us": selfs[k]} for k, (parent, s, e, name) in tree.items()]
    total = sum((p["end_us"] - p["start_us"]) for p in raw["passes"] if p["traced"])
    by_layer = {}
    for k, (_, _, _, name) in tree.items():
        layer = "op" if name.startswith("op:") else name.split(".")[0]
        by_layer[layer] = by_layer.get(layer, 0.0) + excl[k]
    shares = {layer: v / total for layer, v in sorted(by_layer.items())} if total else {}
    return spans, shares
