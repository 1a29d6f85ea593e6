"""Turns one raw run record (written by graft.perfbench.Main) into the
end-to-end metrics, the per-layer metrics and a readable summary.

Every per-layer metric is measured on every workload; the per-step
breakdown of ingest-mutate's mutation cycle, which serve-http does not run,
goes to the trace file instead (`mutation`)."""

import stats

MB = 1048576.0

END_TO_END = {
    "setup_s": "s",
    "op_p50_ms": "ms",
    "work_per_s": "1/s",
    "build_docs_per_s": "docs/s",
    "index_bytes_per_posting": "B",
}

PER_LAYER = {
    "op.jobs": "count",
    "op.job_ms": "ms",
    "op.self_ms": "ms",
    "op.wait_ms": "ms",
    "search.analyze_us": "us",
    "search.plan.analysis_ms": "ms",
    "search.plan.optimization_ms": "ms",
    "search.plan.planning_ms": "ms",
    "search.exec_ms": "ms",
    "search.stages_per_query": "count",
    "search.tasks_per_query": "count",
    "search.shuffle_kb_per_query": "KB",
    "search.sched_delay_ms_per_query": "ms",
    "search.task_ms_per_query": "ms",
    "search.blocks_per_query": "count",
    "search.postings_per_query": "count",
    "wand.us_per_query": "us",
    "wand.ns_per_posting": "ns",
    "index.stats_s": "s",
    "index.postings_s": "s",
    "index.build.shuffle_mb": "MB",
    "index.build.spill_mb": "MB",
    "index.build.task_cpu_s": "s",
    "index.build.gc_s": "s",
    "index.postings": "count",
    "index.bytes": "B",
    "index.vocab": "count",
    "index.preload_s": "s",
    "index.cache_mb": "MB",
    "analysis.ns_per_token": "ns",
    "analysis.stem_ns_per_token": "ns",
    "analysis.tokens": "count",
    "corpus.gen_s": "s",
    "jvm.gc_s": "s",
    "jvm.heap_used_mb": "MB",
}


def _ops(rec, phase):
    return [o for o in rec["ops"] if o["phase"] == phase and o["ok"]]


def end_to_end(rec):
    """Metrics a user of the engine sees. `op_p50_ms` and `work_per_s` are
    the workload's foreground operation and throughput (README.md)."""
    w = rec["workload"]
    b = rec["build"]
    if w == "serve-http":
        op = stats.open_loop(_ops(rec, "open"))["latency"]
        # closed loop without think time: req/s = clients / mean latency
        closed = [o["end"] - o["send"] for o in _ops(rec, "closed")]
        work = rec["clients"] * len(closed) / (sum(closed) / 1e3)
    else:
        # docs appended or deleted per second of clone/append/delete/compact
        op = [o["end"] - o["send"] for o in _ops(rec, "read")]
        cyc = rec["cycles"]
        work = sum(c["appended"] + c["deleted"] for c in cyc) / (
            sum(c["compact"]["end"] - c["clone"]["start"] for c in cyc) / 1e3)
    return {
        "setup_s": rec["setup_s"],
        "op_p50_ms": stats.median(op),
        "work_per_s": work,
        "build_docs_per_s": b["docs"] / (b["stats_s"] + b["postings_s"]),
        "index_bytes_per_posting": b["bytes"] / b["postings"],
    }


class Spark:
    """Job and stage records of a traced run, with lookups by job group and
    by time window."""

    def __init__(self, rec):
        sp = rec["spark"]
        self.jobs = sp["jobs"]
        self.stages_by_job = {}
        for s in sp["stages"]:
            self.stages_by_job.setdefault(s["job"], []).append(s)

    def group(self, g):
        return [j for j in self.jobs if j["group"] == g]

    def window(self, lo, hi, skip_prefix=None):
        return [j for j in self.jobs if lo <= j["start"] <= hi
                and not (skip_prefix and j["group"].startswith(skip_prefix))]

    def stages(self, jobs):
        return [s for j in jobs for s in self.stages_by_job.get(j["id"], [])]

    def total(self, jobs, key):
        return sum(s[key] for s in self.stages(jobs))


def _med(xs):
    return stats.median(xs) if xs else 0.0


def per_layer(rec):
    sp = Spark(rec)
    m = dict.fromkeys(PER_LAYER, 0.0)

    # the foreground operation: an HTTP request (its jobs run ungrouped on
    # the server thread and go to the in-flight request) or a live read
    # (its jobs carry the read's job group)
    if rec["workload"] == "serve-http":
        fg = _ops(rec, "open")
        owned = stats.attribute_fifo(fg, [j for j in sp.jobs if j["group"] == ""])
        jobs_of = [owned[i] for i in range(len(fg))]
    else:
        fg = _ops(rec, "read")
        jobs_of = [sp.group(o["group"]) for o in fg]
    jobs_n, job_ms, self_ms = [], [], []
    for r, js in zip(fg, jobs_of):
        covered = stats.union_length([(j["start"], j["end"]) for j in js], r["send"], r["end"])
        jobs_n.append(len(js))
        job_ms.append(covered)
        self_ms.append(r["end"] - r["send"] - covered)
    m["op.jobs"] = _med(jobs_n)
    m["op.job_ms"] = _med(job_ms)
    m["op.self_ms"] = _med(self_ms)
    if rec["workload"] == "serve-http":
        # queueing at the serialized server under 4 closed-loop clients
        closed = [o["end"] - o["send"] for o in _ops(rec, "closed")]
        m["op.wait_ms"] = _med(closed) - _med(stats.open_loop(fg)["service"])
    else:
        # read wall minus the time its own tasks ran: waiting on the writer
        m["op.wait_ms"] = _med([r["end"] - r["send"] - stats.union_length(
            [(s["first_launch"], s["last_finish"]) for s in sp.stages(js) if s["tasks"]])
            for r, js in zip(fg, jobs_of)])

    # search + wand: the traced in-process probe queries
    probes = rec.get("probes", [])
    per_q = {k: [] for k in ("stages", "tasks", "shuffle", "sched", "task")}
    for p in probes:
        st = sp.stages(sp.group(p["group"]))
        per_q["stages"].append(len(st))
        per_q["tasks"].append(sum(s["tasks"] for s in st))
        per_q["shuffle"].append(sum(s["shuffle_read"] for s in st) / 1024.0)
        per_q["sched"].append(sum(s["sched_ms"] for s in st))
        per_q["task"].append(sum(s["run_ms"] for s in st))
    m["search.analyze_us"] = _med([p["analyze_us"] for p in probes])
    for ph in ("analysis", "optimization", "planning"):
        m[f"search.plan.{ph}_ms"] = _med([p["phases"].get(ph, 0.0) for p in probes])
    m["search.exec_ms"] = _med([p["exec_ms"] for p in probes])
    m["search.stages_per_query"] = _med(per_q["stages"])
    m["search.tasks_per_query"] = _med(per_q["tasks"])
    m["search.shuffle_kb_per_query"] = _med(per_q["shuffle"])
    m["search.sched_delay_ms_per_query"] = _med(per_q["sched"])
    m["search.task_ms_per_query"] = _med(per_q["task"])
    m["search.blocks_per_query"] = _med([p["blocks"] for p in probes])
    m["search.postings_per_query"] = _med([p["postings"] for p in probes])
    m["wand.us_per_query"] = _med([p["wand_us"] for p in probes])
    m["wand.ns_per_posting"] = _med([p["wand_us"] * 1e3 / p["postings"]
                                     for p in probes if p["postings"]])

    # index: the fresh build, preload and storage
    b = rec["build"]
    bj = sp.window(b["start"], b["end"])
    m["index.stats_s"] = b["stats_s"]
    m["index.postings_s"] = b["postings_s"]
    m["index.build.shuffle_mb"] = sp.total(bj, "shuffle_write") / MB
    m["index.build.spill_mb"] = sp.total(bj, "spill") / MB
    m["index.build.task_cpu_s"] = sp.total(bj, "cpu_ns") / 1e9
    m["index.build.gc_s"] = sp.total(bj, "gc_ms") / 1e3
    m["index.postings"] = b["postings"]
    m["index.bytes"] = b["bytes"]
    m["index.vocab"] = b["vocab"]
    m["index.preload_s"] = rec["preload_s"]
    m["index.cache_mb"] = rec["cache_mb"]

    a = rec.get("analysis", {})
    m["analysis.ns_per_token"] = a.get("ns_per_token", 0.0)
    m["analysis.stem_ns_per_token"] = a.get("stem_ns_per_token", 0.0)
    m["analysis.tokens"] = a.get("tokens", 0)
    m["corpus.gen_s"] = rec["corpus_gen_s"]
    m["jvm.gc_s"] = rec["jvm"]["gc_s"]
    m["jvm.heap_used_mb"] = rec["jvm"]["heap_used_mb"]
    return m


def mutation(rec):
    """ingest-mutate: per-step time, task CPU and shuffle of the mutation
    cycle (jobs in each step's window, the reader's excluded)."""
    sp = Spark(rec)
    out = {}
    for step in ("cloneIndex", "append", "delete", "compact"):
        key = {"cloneIndex": "clone"}.get(step, step)
        per = [(c[key], sp.window(c[key]["start"], c[key]["end"], skip_prefix="read-"))
               for c in rec["cycles"]]
        out[step] = {"s": _med([(w["end"] - w["start"]) / 1e3 for w, _ in per]),
                     "task_cpu_s": _med([sp.total(js, "cpu_ns") / 1e9 for _, js in per]),
                     "shuffle_mb": _med([sp.total(js, "shuffle_write") / MB for _, js in per])}
    return out


def premises(rec, e2e, layer):
    """The shares the workload premises rest on (README.md, "Premises")."""
    w = rec["workload"]
    out = {}
    if w == "serve-http":
        p50 = e2e["op_p50_ms"]
        out["wand_share_of_p50"] = layer["wand.us_per_query"] / 1e3 / p50
        out["spark_jobs_share_of_p50"] = layer["op.job_ms"] / p50
        out["planning_share_of_p50"] = sum(layer[f"search.plan.{p}_ms"] for p in
                                          ("analysis", "optimization", "planning")) / p50
    else:
        an = layer["analysis.ns_per_token"] * layer["analysis.tokens"] / 4 / 1e9
        out["analysis_share_of_stats_s"] = an / layer["index.stats_s"]
    return out


def summary(rec, e2e):
    """Readable context the metrics leave out: sample counts, the tail
    percentile, open-loop lateness, and the workload-specific names."""
    w = rec["workload"]
    out = {"inputs": rec.get("inputs", {})}
    if w == "serve-http":
        ol = stats.open_loop(_ops(rec, "open"))
        out["open_loop_samples"] = len(ol["latency"])
        out["open_loop_tail"] = stats.tail_percentile(ol["latency"])
        out["generator_lateness_ms_max"] = max(ol["lateness"]) if ol["lateness"] else 0.0
        out["client_queue_ms_p50"] = _med(ol["queued"])
        out["closed_loop_samples"] = len(_ops(rec, "closed"))
        out["query_p50_ms"] = e2e["op_p50_ms"]
        out["serve_qps"] = e2e["work_per_s"]
        out["serve_cache_mb"] = rec["cache_mb"]
    else:
        reads = [o["end"] - o["send"] for o in _ops(rec, "read")]
        out["reads"] = len(reads)
        out["read_tail"] = stats.tail_percentile(reads)
        out["ingest_read_p50_ms"] = e2e["op_p50_ms"]
        out["mutated_docs_per_s"] = e2e["work_per_s"]
        out["cycles"] = len(rec["cycles"])
        c = rec["cycles"][0]
        out["append_docs_per_s"] = c["appended"] / ((c["append"]["end"] - c["append"]["start"]) / 1e3)
        out["delete_s"] = (c["delete"]["end"] - c["delete"]["start"]) / 1e3
        out["compact_s"] = (c["compact"]["end"] - c["compact"]["start"]) / 1e3
    return out
