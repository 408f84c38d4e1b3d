"""Turns the harness's per-job records into the benchmark's metrics.

End-to-end metrics come from untraced runs; per-layer metrics from the
traced jobs of a traced run. Every metric here is named, with its unit
and better-direction, in BENCHMARK.json.
"""
import math
import statistics

TAIL_BEYOND = 10  # jobs that must lie beyond the reported tail percentile


def tail_percentile(latencies):
    """The highest whole percentile with at least TAIL_BEYOND jobs beyond it.

    The p-th percentile is the nearest-rank value: the ceil(p/100 * n)-th
    smallest latency (the smallest for p = 0). Jobs beyond it are those
    ranked after it. Returns (p, value); raises ValueError when fewer than
    TAIL_BEYOND + 1 latencies are given, as no percentile then qualifies.
    """
    xs = sorted(latencies)
    n = len(xs)
    if n <= TAIL_BEYOND:
        raise ValueError(f"{n} jobs: a tail needs at least {TAIL_BEYOND + 1}")
    for p in range(99, -1, -1):
        rank = max(1, math.ceil(p * n / 100))
        if n - rank >= TAIL_BEYOND:
            return p, xs[rank - 1]
    raise AssertionError("unreachable: p = 0 always qualifies")


def end_to_end(result, input_rows):
    """End-to-end metrics of an untraced run.

    `input_rows` maps each job name to the rows of the tables it reads.
    Returns ({metric: value}, notes) where notes carry the tail's job count
    and percentile.
    """
    done = [j for j in result["jobs"] if j["ok"]]
    lat = [j["latency_s"] for j in done]
    p, tail = tail_percentile(lat)
    passes = {}
    for j in done:
        passes.setdefault(j["pass"], []).append(j)
    values = {
        "setup_s": result["setup_s"],
        "job_p50_s": statistics.median(lat),
        "job_tail_s": tail,
        # Rates per pass, median over passes: one pass slowed by the host
        # does not move them.
        "rows_per_s": statistics.median(
            sum(input_rows[j["name"]] for j in js) / sum(j["latency_s"] for j in js)
            for js in passes.values()),
        "cpu_s_per_job": statistics.median(
            sum(j["cpu_s"] for j in js) / len(js) for js in passes.values()),
        "rss_peak_mb": result["rss_peak_mb"],
    }
    return values, {"tail_jobs": len(lat), "tail_percentile": p}


def _mean(xs):
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def per_layer(result, ml_jobs, sig_jobs, docs, lsh_precision):
    """Per-layer metrics of a traced run.

    Counters are per job (mean over the traced jobs) unless named as a
    ratio, a rate or a total. `ml_jobs` are the jobs that fit a model,
    `sig_jobs` the jobs that sign every one of `docs` documents.
    """
    jobs = [j for j in result["jobs"] if j["ok"]]
    traced = [j for j in jobs if "trace" in j]
    untraced = [j for j in jobs if "trace" not in j]
    t = [j["trace"] for j in traced]

    def per_job(key, scale=1.0):
        return _mean(x[key] * scale for x in t)

    ml = [j for j in traced if j["name"] in ml_jobs]
    sig = [j for j in traced if j["name"] in sig_jobs]
    stream = [j["trace"] for j in traced if j["trace"]["batches"] > 0]
    memo_users = set(result["memo_users"])
    memo_jobs = [j for j in jobs if j["name"] in memo_users]
    result_rows = sum(j["rows"] for j in traced)
    batches = sum(s["batches"] for s in stream)
    batch_s = sum(s["batch_s"] for s in stream)
    p50_traced = statistics.median(j["latency_s"] for j in traced)
    p50_untraced = statistics.median(j["latency_s"] for j in untraced)
    mb = 1e-6
    return {
        "exec.spark_jobs": per_job("spark_jobs"),
        "exec.tasks": per_job("tasks"),
        "exec.sched_wait_s": per_job("sched_wait_s"),
        "exec.driver_self_s": per_job("driver_self_s"),
        "exec.task_busy_s": per_job("task_busy_s"),
        "exec.task_cpu_s": per_job("task_cpu_s"),
        "exec.gc_s": per_job("gc_s"),
        "exec.shuffle_write_mb": per_job("shuffle_write_b", mb),
        "exec.shuffle_read_mb": per_job("shuffle_read_b", mb),
        "exec.spill_mb": per_job("spill_b", mb),
        "exec.stage_skew": max((x["stage_skew"] for x in t), default=0.0),
        "exec.task_failures": sum(x["task_failures"] for x in t),
        "ml.fit_s": _mean(j["build_s"] for j in ml),
        "ml.fit_spark_jobs": _mean(j["trace"]["build_spark_jobs"] for j in ml),
        "ml.score_s": _mean(j["exec_s"] for j in ml),
        "engine.build_s": _mean(j["build_s"] for j in traced),
        "engine.memo_builds": _mean(j["memo_builds"] for j in jobs),
        "engine.memo_hit_ratio":
            _mean(1.0 if j["memo_builds"] == 0 else 0.0 for j in memo_jobs),
        "engine.storage_mb": result["storage_mb"],
        "sources.scan_mb": per_job("input_b", mb),
        "sources.scan_rows_per_result_row":
            sum(x["input_rows"] for x in t) / max(1, result_rows),
        "sources.write_mb": per_job("output_b", mb),
        "sources.write_s": per_job("write_task_s"),
        "plans.plan_s": per_job("plan_s"),
        "plans.optimize_s": per_job("optimize_s"),
        "plans.exchanges": per_job("exchanges"),
        "plans.nested_loop_joins": per_job("nested_loop_joins"),
        "functions.sig_rows_per_s":
            docs * len(sig) / sum(j["latency_s"] for j in sig) if sig else 0.0,
        "llm.lsh_precision": lsh_precision,
        "streaming.batches": _mean(s["batches"] for s in stream),
        "streaming.batch_s": batch_s / batches if batches else 0.0,
        "streaming.commit_s":
            sum(s["commit_s"] for s in stream) / batches if batches else 0.0,
        "streaming.state_partitions": max((s["state_partitions"] for s in stream), default=0),
        "streaming.state_rows": _mean(s["state_rows"] for s in stream),
        "streaming.state_mb": _mean(s["state_b"] * mb for s in stream),
        "streaming.rows_per_s":
            sum(s["stream_rows"] for s in stream) / batch_s if batch_s else 0.0,
        "trace.job_p50_s": p50_traced,
        "trace.overhead_s": p50_traced - p50_untraced,
    }
