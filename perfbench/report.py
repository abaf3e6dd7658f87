"""Turns one run's raw figures into the benchmark's metrics, after the
correctness checks that must pass before any figure is printed."""
import contextlib
import io
import os
import runpy
import sys

import pyarrow.parquet as pq

import gen
import stats

# graded on every workload; each is never 0. The median is printed but not
# graded: over corpus_batch's seven operators it falls between two of
# them, and which one moved it by a sixth between seeds
END_TO_END = [("setup_s", "s"), ("op_mean_ms", "ms")]

# reported by every traced run; 0 where the workload does not use the layer
PER_LAYER = [
    ("carbon.parse_ms", "ms"), ("carbon.accepted_frac", "ratio"),
    ("whisper.update_ms", "ms"), ("whisper.update_jobs", "count"),
    ("whisper.bytes_rewritten_per_point", "B"), ("whisper.files_written", "count"),
    ("whisper.fetch_ms", "ms"), ("wsp.scan_ms", "ms"), ("wsp.export_ms", "ms"),
    ("ops.construct_ms", "ms"), ("ops.construct_jobs", "count"),
    ("plancache.hit_frac", "ratio"),
    ("plan.analysis_ms", "ms"), ("plan.optimization_ms", "ms"),
    ("plan.planning_ms", "ms"),
    ("exec.ms", "ms"), ("exec.jobs", "count"), ("exec.tasks", "count"),
    ("exec.cpu_ms", "ms"), ("exec.gc_ms", "ms"), ("exec.task_wait_ms", "ms"),
    ("exec.slot_util", "ratio"), ("exec.task_skew", "ratio"),
    ("exec.shuffle_write_bytes", "B"), ("exec.shuffle_read_bytes", "B"),
    ("exec.spill_bytes", "B"), ("exec.input_bytes", "B"),
    ("exec.output_bytes", "B"),
    ("codegen.compiles", "count"), ("agg.hash_probe_avg", "count"),
    ("agg.peak_mem_bytes", "B"), ("jvm.gc_ms", "ms"),
    ("self.op_ms", "ms"), ("self.ops.construct_ms", "ms"),
    ("self.carbon.parse_ms", "ms"), ("self.whisper.update_ms", "ms"),
    ("self.whisper.fetch_ms", "ms"), ("self.wsp.scan_ms", "ms"),
    ("self.materialize_ms", "ms"), ("self.plan_ms", "ms"),
    ("self.exec.job_ms", "ms"),
    ("trace.overhead_ms", "ms"), ("trace.overhead_frac", "ratio"),
    # varies by more than a tenth between runs, so it is not graded
    ("heap_live_peak_mb", "MB"),
]


class CheckFailed(Exception):
    pass


def _extra(ops, key):
    return [o["extra"][key] for o in ops if key in o["extra"]]


def check_write(res, batches, work):
    """Counts per measured cycle, and the finest archive's final content
    against the generator's last-write-wins model."""
    failures = []
    for o in res["ops"]:
        if not o["ok"]:
            continue
        want = batches[int(o["extra"]["cycle"])]["expected"]
        for k in ("dropped", "parsed", "accepted", "rejected"):
            if o["extra"][k] != want[k]:
                failures.append("cycle %d: %s %d, generator expects %d"
                                % (o["extra"]["cycle"], k, o["extra"][k], want[k]))
    n = int(res["info"]["cycles_run"])
    now = batches[n - 1]["now"]
    # the buckets fetchMany(now - 1d, now) serves from the 1m archive
    lo = (now - 86400) // 60 * 60 + 60
    hi = now // 60 * 60 + 60
    model = {k: v for k, v in gen.lww_model(batches[:n]).items() if lo <= k[1] < hi}
    t = pq.read_table(os.path.join(work, "final_1m")).to_pydict()
    table = {(m, b): v for m, b, v in zip(t["metric"], t["bucket_ts"], t["value"])}
    if table != model:
        wrong = sum(1 for k in set(model) & set(table) if model[k] != table[k])
        failures.append("finest archive differs from the LWW model: %d missing, "
                        "%d unexpected, %d wrong values of %d"
                        % (len(set(model) - set(table)), len(set(table) - set(model)),
                           wrong, len(model)))
    return failures


def check_corpus(spec, work):
    """Every executed operator's output against its DuckDB oracle SQL, with
    the repository's own compare (tools/check_oracle.py), run in-process."""
    tool = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "tools", "check_oracle.py")
    out = io.StringIO()
    argv = sys.argv
    sys.argv = [tool, spec["data"], os.path.join(work, "oracle")]
    try:
        with contextlib.redirect_stdout(out):
            runpy.run_path(tool, run_name="__main__")
        code = 0
    except SystemExit as e:
        code = e.code or 0
    finally:
        sys.argv = argv
    if code:
        return [line for line in out.getvalue().splitlines() if "FAIL" in line][:10] or \
            ["oracle compare exited with %s" % code]
    return []


def end_to_end(workload, res, ops, spec, gen_s):
    lat = stats.op_latencies(ops)
    ok = [o for o in ops if o["ok"]]
    m = {
        "setup_s": (gen_s + res["session_s"] + res["setup_s"] + res["warmup_s"], "s"),
        "op_p50_ms": (stats.percentile(lat, 0.5), "ms"),
        # None when fewer than 10 samples lie above the 90th percentile
        "op_p90_ms": (stats.tail_percentile(lat), "ms"),
        "op_mean_ms": (stats.mean(lat), "ms"),
        "op_samples": (len(lat), "count"),
        "failed_frac": (stats.failed_frac(ops), "ratio"),
        "heap_live_peak_mb": (res["heap_live_peak_mb"], "MB"),
    }
    if workload == "whisper_write":
        wall_s = sum(o["endMs"] - o["startMs"] for o in ok) / 1000.0
        reads = [v for i in range(3) for v in _extra(ok, "read%d_ms" % i)]
        total = sum(b["expected"]["accepted"]
                    for b in spec["_batches"][:int(res["info"]["cycles_run"])])
        m["points_per_s"] = (sum(_extra(ok, "accepted")) / wall_s if wall_s else 0.0, "1/s")
        m["fetch_p50_ms"] = (stats.percentile(reads, 0.5), "ms")
        m["bytes_per_point"] = (res["info"]["table_bytes"] / total, "B")
    else:
        # the first call of every key: one full pass over the operator set
        first = {}
        for o in ops:
            first.setdefault(o["kind"], o)
        m["batch_s"] = (sum(o["endMs"] - o["startMs"] for o in first.values()) / 1000.0, "s")
    return m


def per_layer(workload, res, ops):
    traced = [o for o in ops if o["traced"] and o["ok"]]
    untraced = [o for o in ops if not o["traced"] and o["ok"]]
    layers = dict(res["layers"])

    def mean_extra(key):
        return stats.mean(_extra(traced, key))

    lines = sum(_extra(traced, "dropped")) + sum(_extra(traced, "parsed"))
    accepted = sum(_extra(traced, "accepted"))
    layers.update({
        "carbon.parse_ms": mean_extra("carbon.parse_ms"),
        "carbon.accepted_frac": accepted / lines if lines else 0.0,
        "whisper.update_ms": mean_extra("whisper.update_ms"),
        "whisper.bytes_rewritten_per_point":
            sum(_extra(traced, "bytes_written")) / accepted if accepted else 0.0,
        "whisper.files_written": mean_extra("files_written"),
        "whisper.fetch_ms": stats.mean(
            [v for i in range(3) for v in _extra(traced, "read%d_ms" % i)]),
        "wsp.scan_ms": mean_extra("wsp_ms"),
        "wsp.export_ms": res["info"].get("wsp.export_ms", 0.0),
        "ops.construct_ms": mean_extra("ops.construct_ms"),
        "plancache.hit_frac": mean_extra("plancache_hit"),
        "heap_live_peak_mb": res["heap_live_peak_mb"],
    })
    n = max(1, len(traced))
    selfs = stats.self_times(res["spans"])
    for name in ["op", "ops.construct", "carbon.parse", "whisper.update",
                 "whisper.fetch", "wsp.scan", "materialize", "exec.job"]:
        layers["self.%s_ms" % name] = selfs.get(name, 0.0) / n
    layers["self.plan_ms"] = sum(v for k, v in selfs.items() if k.startswith("plan.")) / n
    t50 = stats.percentile(stats.op_latencies(traced), 0.5)
    u50 = stats.percentile(stats.op_latencies(untraced), 0.5)
    if t50 is not None and u50:
        layers["trace.overhead_ms"] = t50 - u50
        layers["trace.overhead_frac"] = (t50 - u50) / u50
    return {k: (layers.get(k, 0.0), u) for k, u in PER_LAYER}


def reduce(workload, res, spec, gen_s, work, trace):
    """Returns (every figure with its unit, the result line); raises
    CheckFailed when an output is wrong."""
    failures = list(res["check_failures"])
    if workload == "whisper_write":
        failures += check_write(res, spec["_batches"], work)
    elif workload == "corpus_batch":
        failures += check_corpus(spec, work)
    if failures:
        raise CheckFailed("; ".join(failures[:10]))
    ops = res["ops"]
    report = end_to_end(workload, res, ops, spec, gen_s)
    if trace:
        report.update(per_layer(workload, res, ops))
    graded = [k for k, _ in (PER_LAYER if trace else END_TO_END)]
    result = {
        "correct": True,
        "attempted": len(ops),
        "failed": sum(1 for o in ops if not o["ok"]),
        "metrics": {k: {"value": report[k][0], "unit": report[k][1]} for k in graded},
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in report.items()}, result
