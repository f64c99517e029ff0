"""Per-layer metrics from a traced driver run.

Jobs are attributed to a trigger by their scheduler start time (the closed
loop runs nothing else while a trigger folds) and to a layer by the `fold:*`
job description the library sets (Pipeline.tagged):

  fold:partial-read, fold:store-write          -> streaming
  fold:epoch-label, fold:epoch-scan            -> temporal
  fold:strict-scan                             -> ingest
  fold:epoch<N>-state-checkpoint, N odd        -> state (refresh merges)
  fold:epoch<N>-state-checkpoint, N even       -> graph (expire cascade)
  fold:epoch<N>-changes-checkpoint             -> state

A layer's time in one trigger is the union of its jobs' spans (its self
time; overlapping jobs are not double counted). Every per-trigger figure is
reported as the median over the run's triggers.
"""

import json
import re
import statistics

_EPOCH = re.compile(r"^fold:epoch(\d+)-(state|changes)-checkpoint$")
ENGINE_KEYS = ("queryPlanning", "walCommit", "commitOffsets", "latestOffset", "getBatch")


def phase(desc):
    m = _EPOCH.match(desc or "")
    if m:
        if m.group(2) == "changes":
            return "changes"
        return "merge" if int(m.group(1)) % 2 == 1 else "cascade"
    return {"fold:partial-read": "partial_read", "fold:store-write": "store_write",
            "fold:epoch-label": "epoch_label", "fold:epoch-scan": "epoch_scan",
            "fold:strict-scan": "strict_scan"}.get(desc, "untagged")


def union_s(spans):
    total, end = 0, None
    for a, b in sorted(spans):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total / 1000.0


def within(jobs, a, b):
    return [j for j in jobs if a <= j["start_ms"] <= b]


def med(xs):
    return statistics.median(xs) if xs else 0.0


def per_layer(res):
    jobs = [j for j in res["trace"]["jobs"] if j["end_ms"] >= 0]
    progress = {p["batch"]: p for p in res["trace"]["progress"]}
    trig = [t for t in res["triggers"] if t.get("ok")]
    per = []  # one dict of figures per trigger
    for t in trig:
        js = within(jobs, t["start_ms"], t["commit_ms"])
        by = {}
        for j in js:
            by.setdefault(phase(j["desc"]), []).append(j)

        def span(p):
            return union_s([(j["start_ms"], j["end_ms"]) for j in by.get(p, [])])

        def total(p, field):
            return sum(j[field] for j in by.get(p, []))

        prog = progress.get(t["version"], {}).get("duration_ms", {})
        add_batch = prog.get("addBatch", 0) / 1000.0
        epochs = {int(m.group(1)) for m in (_EPOCH.match(j["desc"]) for j in js) if m}
        staged = total("store_write", "written")
        per.append({
            "engine": sum(prog.get(k, 0) for k in ENGINE_KEYS) / 1000.0,
            "jobs": len(js), "tasks": sum(j["tasks"] for j in js),
            "gap": max(0.0, add_batch - union_s([(j["start_ms"], j["end_ms"]) for j in js])),
            "strict": span("strict_scan"), "untagged": len(by.get("untagged", [])),
            "epochs": len(epochs), "label": span("epoch_label"), "scan": span("epoch_scan"),
            "cascade": span("cascade"), "cascade_jobs": len(by.get("cascade", [])),
            "cascade_shuffle": total("cascade", "shuffle_read") + total("cascade", "shuffle_write"),
            "merge": span("merge"), "merge_jobs": len(by.get("merge", [])),
            "changes": span("changes"),
            "state_shuffle": sum(total(p, f) for p in ("merge", "changes")
                                 for f in ("shuffle_read", "shuffle_write")),
            "read": span("partial_read"), "read_jobs": len(by.get("partial_read", [])),
            "write": span("store_write"), "write_jobs": len(by.get("store_write", [])),
            "staged": staged, "staged_ratio": staged / t["bytes"],
            "gc": sum(j["gc_ms"] for j in js) / 1000.0, "spill": sum(j["spill"] for j in js),
            "shuffle_read": sum(j["shuffle_read"] for j in js),
            "shuffle_write": sum(j["shuffle_write"] for j in js),
        })

    def m(key):
        return med([p[key] for p in per])

    reads = [r for r in res["reads"] if r.get("ok") and not r.get("warm")]

    def read_fig(kind):
        """(median seconds, median jobs, samples) of one kind of read."""
        rs = [r for r in reads if r["kind"] == kind]
        return (med([r["secs"] for r in rs]),
                med([len(within(jobs, r["start_ms"], r["end_ms"])) for r in rs]), len(rs))

    n = len(per)
    look_s, look_jobs, n_look = read_fig("lookup")
    cdc_s, _, n_cdc = read_fig("cdc")
    scan_s, scan_jobs, n_scan = read_fig("scan")
    decodes = [d["secs"] for d in res["decodes"]]
    return {
        "trace.trigger_p50_s": (med([t["secs"] for t in trig]), "s", n),
        "streaming.engine_overhead_s": (m("engine"), "s", n),
        "ingest.jobs_per_trigger": (m("jobs"), "count", n),
        "ingest.tasks_per_trigger": (m("tasks"), "count", n),
        "ingest.driver_gap_s": (m("gap"), "s", n),
        "ingest.strict_scan_s": (m("strict"), "s", n),
        "ingest.untagged_jobs": (m("untagged"), "count", n),
        "temporal.epochs_per_trigger": (m("epochs"), "count", n),
        "temporal.epoch_label_s": (m("label"), "s", n),
        "temporal.epoch_scan_s": (m("scan"), "s", n),
        "graph.cascade_s": (m("cascade"), "s", n),
        "graph.cascade_jobs": (m("cascade_jobs"), "count", n),
        "graph.cascade_shuffle_bytes": (m("cascade_shuffle"), "bytes", n),
        "state.merge_s": (m("merge"), "s", n),
        "state.merge_jobs": (m("merge_jobs"), "count", n),
        "state.changes_checkpoint_s": (m("changes"), "s", n),
        "state.shuffle_bytes": (m("state_shuffle"), "bytes", n),
        "decode.decode_s": (med(decodes), "s", len(decodes)),
        "streaming.partial_read_s": (m("read"), "s", n),
        "streaming.partial_read_jobs": (m("read_jobs"), "count", n),
        "streaming.store_write_s": (m("write"), "s", n),
        "streaming.store_write_jobs": (m("write_jobs"), "count", n),
        "streaming.bytes_staged": (m("staged"), "bytes", n),
        "streaming.store_bytes": (float(res["store_bytes"]), "bytes", 1),
        "streaming.bytes_written_per_input_byte": (m("staged_ratio"), "ratio", n),
        "graph.lookup_s": (look_s, "s", n_look),
        "graph.lookup_jobs": (look_jobs, "count", n_look),
        "streaming.cdc_diff_s": (cdc_s, "s", n_cdc),
        "sources.store_scan_s": (scan_s, "s", n_scan),
        "sources.store_scan_jobs": (scan_jobs, "count", n_scan),
        "spark.gc_s": (m("gc"), "s", n),
        "spark.spill_bytes": (m("spill"), "bytes", n),
        "spark.shuffle_read_bytes": (m("shuffle_read"), "bytes", n),
        "spark.shuffle_write_bytes": (m("shuffle_write"), "bytes", n),
    }


def write_spans(res, path):
    """The run's spans (triggers, reads, decodes, jobs, micro-batches)
    without the row payloads."""
    strip = [{k: v for k, v in r.items() if k != "rows"} for r in res["reads"]]
    with open(path, "w") as f:
        json.dump({"triggers": res["triggers"], "reads": strip, "decodes": res["decodes"],
                   "jobs": res["trace"]["jobs"], "progress": res["trace"]["progress"]}, f)
