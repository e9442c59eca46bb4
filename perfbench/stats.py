"""Metric arithmetic shared by run.py and the self-tests: medians, the
tail percentile, span self time, and the reduction of one JVM result
file to the end-to-end and per-layer metrics."""
import re
import statistics

NAME_RE = re.compile(r"^[A-Za-z0-9_.-]+$")
MB = 1048576.0


def median(xs):
    return statistics.median(xs) if xs else 0.0


def tail(xs):
    """(value, percentile, n): the highest of p99.9, p99 and p90 with at
    least ten samples beyond it. Below 100 samples none has, and the
    maximum is reported, labelled p100."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return 0.0, 0.0, 0
    for pct in (99.9, 99.0, 90.0):
        beyond = int(n * (100.0 - pct) / 100.0)
        if beyond >= 10:
            return s[n - 1 - beyond], pct, n
    return s[-1], 100.0, n


def self_times(spans):
    """Per span id: duration minus the part of it its children cover."""
    kids = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    out = {}
    for s in spans:
        iv = sorted((max(c["start_ns"], s["start_ns"]), min(c["end_ns"], s["end_ns"]))
                    for c in kids.get(s["id"], []))
        covered, cur_s, cur_e = 0, None, None
        for a, b in iv:
            if b <= a:
                continue
            if cur_e is None or a > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = a, b
            else:
                cur_e = max(cur_e, b)
        if cur_e is not None:
            covered += cur_e - cur_s
        out[s["id"]] = (s["end_ns"] - s["start_ns"] - covered) / 1e9
    return out


def span_table(spans):
    """Rows (name, count, total_s, self_s), heaviest self time first."""
    st = self_times(spans)
    agg = {}
    for s in spans:
        a = agg.setdefault(s["name"], [0, 0.0, 0.0])
        a[0] += 1
        a[1] += (s["end_ns"] - s["start_ns"]) / 1e9
        a[2] += st[s["id"]]
    return sorted(((k, v[0], v[1], v[2]) for k, v in agg.items()), key=lambda r: -r[3])


def _steady(res, traced):
    """Passes after the cold (0) and the warm ones."""
    return [p for p in res["passes"][1 + res["warm_passes"]:] if p["traced"] == traced]


def _ops(passes, name=None):
    return [o for p in passes for o in p["ops"] if name is None or o["name"] == name]


def end_to_end(res, input_bytes):
    steady = _steady(res, False)
    pass_s = median([p["wall_s"] for p in steady])
    op_s = [o["s"] for o in _ops(steady)]
    t, pct, n = tail(op_s)
    m = {
        "setup_s": median(res["setups"]),
        "cold_pass_s": res["passes"][0]["wall_s"],
        "pass_s": pass_s,
        "input_mb_per_s": input_bytes / MB / pass_s if pass_s else 0.0,
        "batch_p50_s": median(op_s),
        "batch_tail_s": t,
        "retained_heap_mb": res["retained_heap_mb"],
    }
    return m, {"batch_tail_pct": pct, "batch_n": n, "steady_passes": len(steady),
               "steal_share": median([p.get("steal_share", 0.0) for p in steady])}


def per_layer(res, workload, props):
    """Layer metrics a traced run measured; run.py reports 0 for the
    layers a workload does not exercise. Streaming-layer batches are
    timed per micro-batch; the others come from the steady passes."""
    m = dict(res.get("layers", {}))
    untraced, traced = _steady(res, False), _steady(res, True)
    cold = res["passes"][0]
    n = res["env"]["n"]
    m["core.session_build_s"] = median(res["setups"])
    if traced and untraced:
        m["trace.overhead"] = median([p["wall_s"] for p in traced]) / \
            median([p["wall_s"] for p in untraced])
    if workload == "wordcount" and "wordcount.count_s" in m:
        m["wordcount.sink_s"] = median([p["wall_s"] for p in traced]) - m["wordcount.count_s"]
    if workload == "curation":
        build = 0.0
        for o in cold["ops"]:
            q = o["name"][len("ops."):]
            steady = median([x["s"] for x in _ops(untraced, o["name"])])
            m[f"ops.{q}_s"] = steady
            m[f"ops.{q}_cold_s"] = o["s"]
            build += o["s"] - steady
        m["ops.memo_build_s"] = build
    if res.get("stream"):
        # the streaming layer: a cold then a steady pass of the ingest twins
        st = res["stream"]
        steady = st["passes"][1:]
        m["streaming.index_build_s"] = st["index_build_s"]
        for s in ("quality", "dedup", "spans"):
            walls = [p["extra"][f"{s}.wall_s"] for p in steady if f"{s}.wall_s" in p["extra"]]
            m[f"streaming.{s}_rows_per_s"] = \
                props["stream"]["stream_docs"] / median(walls) if walls else 0.0
            m[f"streaming.{s}_batch_p50_s"] = median([o["s"] for o in _ops(steady, f"streaming.{s}")])
        batches = _ops(steady)
        for k in ("plan_s", "add_batch_s", "wal_s"):
            m[f"streaming.{k}"] = median([o["detail"][k] for o in batches if k in o["detail"]])
    if traced:
        ex = [p["exec"] for p in traced]
        for k in ex[0]:
            m[f"exec.{k}"] = median([e[k] for e in ex])
        m["exec.busy_share"] = median([p["exec"]["task_run_s"] / (p["wall_s"] * n) for p in traced])
        for k in {k for p in traced for k in p["plan"]}:
            m[k] = median([p["plan"].get(k, 0.0) for p in traced])
    m["jvm.jit_s"] = cold["jit_s"]
    m["jvm.code_cache_mb"] = res["code_cache_mb"]
    m["jvm.gc_s"] = median([p["gc_s"] for p in untraced])
    return m


def errors(res, failed_checks):
    """(attempted, failed, named failures): ops are runs, queries or
    micro-batches; a failed check fails every op it covers."""
    attempted, failed, names = 0, 0, []
    for p in res["passes"] + res.get("stream", {}).get("passes", []):
        for o in p["ops"]:
            attempted += 1
            bad = [c for c in failed_checks
                   if c["name"] == o["name"] and c["pass"] in (-1, p["pass"])]
            if not o["ok"] or bad:
                failed += 1
                cause = o.get("error") or bad[0]["cause"]
                names.append({"op": o["name"], "pass": p["pass"], "cause": str(cause)[:300]})
    return attempted, failed, names
