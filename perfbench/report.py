"""Metrics from one run's raw samples: the end-to-end metrics (untraced
run), the per-layer metrics and self-time table (traced run), and the
human-readable report printed before the contract's JSON line."""
import math
import statistics

import numpy as np

# end-to-end metrics in the contract's JSON line: the ones every workload
# has (README: "Metrics"); the rest are printed in the table
END_TO_END = [
    ("setup_s", "s"), ("peak_rss_mb", "MB"), ("query_p50_s", "s"),
    ("queries_per_s", "1/s"), ("compile_p50_s", "s"),
]
# per-layer metrics in the traced run's JSON line: the ones both
# benchmark workloads exercise; the layer-specific rest is printed
PER_LAYER = [
    ("lang.parse_s", "s"), ("lang.parse_bytes_per_s", "bytes/s"), ("lang.lower_s", "s"),
    ("lang.plan_nodes", "count"), ("lang.lower_jobs", "count"), ("lang.analyzer_passes", "count"),
    ("tables.resolve_s", "s"), ("tables.resolve_calls", "count"), ("tables.memo_hit_ratio", "ratio"),
    ("catalyst.analysis_s", "s"), ("catalyst.optimization_s", "s"), ("catalyst.planning_s", "s"),
    ("catalyst.rule_invocations", "count"), ("catalyst.rule_effective_ratio", "ratio"),
    ("catalyst.plan_nodes", "count"), ("catalyst.exchanges", "count"),
    ("exec.wall_s", "s"), ("exec.jobs", "count"), ("exec.stages", "count"), ("exec.tasks", "count"),
    ("exec.task_run_s", "s"), ("exec.task_cpu_s", "s"), ("exec.cpu_util", "ratio"),
    ("exec.task_wait_s", "s"), ("exec.gc_s", "s"), ("exec.shuffle_write_bytes", "bytes"),
    ("exec.shuffle_read_bytes", "bytes"), ("exec.input_bytes", "bytes"), ("exec.result_rows", "count"),
    ("jvm.gc_s", "s"), ("jvm.jit_s", "s"), ("jvm.heap_peak_mb", "MB"),
    ("self.lang_s", "s"), ("self.tables_s", "s"), ("self.catalyst_s", "s"), ("self.exec_s", "s"),
    ("self.unattributed_s", "s"), ("trace.overhead_ratio", "ratio"),
]
LAYERS = ["lang", "sql", "tables", "catalyst", "exec", "operators", "index", "streaming",
          "unattributed"]


def median(xs):
    return statistics.median(xs) if xs else 0.0


def p50(xs):
    """Harrell-Davis estimate of the median: the mean of the order
    statistics weighted by a Beta((n+1)/2, (n+1)/2) distribution. A run
    holds a few dozen requests of a few dozen distinct queries, so the
    middle order statistic jumps from one query's latency to the next
    between runs; these weights spread over the ranks near the middle."""
    x = np.sort(np.asarray(xs, dtype=float))
    n = len(x)
    if n < 3:
        return median(xs)
    a = (n + 1) / 2
    # the Beta(a, a) CDF by the trapezoid rule on a fine grid
    g = np.linspace(0.0, 1.0, 20001)[1:-1]
    pdf = np.exp((a - 1) * (np.log(g) + np.log1p(-g)) - (a - 1) * 2 * math.log(0.5))
    cdf = np.concatenate([[0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)])
    cdf /= cdf[-1]
    edges = np.interp(np.arange(n + 1) / n, g, cdf)
    return float(np.dot(np.diff(edges), x))


def tail(xs):
    """(value, percentile, n): the highest percentile with at least ten
    samples beyond it; with fewer than 11 samples, the maximum."""
    xs = sorted(xs)
    n = len(xs)
    if n == 0:
        return 0.0, 0, 0
    if n < 11:
        return xs[-1], 100, n
    return xs[n - 11], math.floor(100 * (n - 10) / n), n


def self_times(spans):
    """{layer: self seconds} over the traced requests, and the traced
    wall time (sum of request root spans). Children of one span run on
    its thread one after another, so self = duration - sum(children)."""
    by_id = {s["id"]: s for s in spans}
    child = {}
    for s in spans:
        if s["parent"] in by_id:
            child[s["parent"]] = child.get(s["parent"], 0) + (s["end_ns"] - s["start_ns"])
    layers = {l: 0.0 for l in LAYERS}
    wall = 0.0
    for s in spans:
        d = s["end_ns"] - s["start_ns"]
        layers[s["layer"]] = layers.get(s["layer"], 0.0) + (d - child.get(s["id"], 0)) / 1e9
        if s["parent"] not in by_id:
            wall += d / 1e9
    return layers, wall


def layer_metrics(workload, samples):
    """Per-layer metrics of a traced run; times and counts are per traced
    request, ratios are ratios of totals."""
    spans = samples["spans"]
    reqs = [q for q in samples["requests"] if q["traced"]]
    cycles = [c for c in samples["cycles"] if c.get("traced")]
    n_req = max(1, len({s["req"] for s in spans}))
    tot = {}
    by_name = {}
    for s in spans:
        d = (s["end_ns"] - s["start_ns"]) / 1e9
        key = f'{s["layer"]}.{s["name"].split(":")[0]}'
        by_name[key] = by_name.get(key, 0.0) + d
        for k, v in s["counts"].items():
            tot[k] = tot.get(k, 0.0) + v
            tot[f'{key}.{k}'] = tot.get(f'{key}.{k}', 0.0) + v
    layers, wall = self_times(spans)
    jvm = samples["jvm"]

    def per(x):
        return x / n_req

    def rsum(k):
        return sum(q.get(k, 0) for q in reqs)

    m = {}
    m["lang.parse_s"] = per(by_name.get("lang.parse", 0.0))
    parse_bytes = tot.get("lang.parse.parse_bytes", 0.0)
    m["lang.parse_bytes_per_s"] = parse_bytes / by_name["lang.parse"] if by_name.get("lang.parse") else 0.0
    m["lang.lower_s"] = per(by_name.get("lang.lower", 0.0))
    lang_reqs = {s["req"] for s in spans if s["layer"] == "lang"}
    wv_reqs = [q for q in reqs if q.get("req") in lang_reqs] or reqs
    m["lang.plan_nodes"] = (sum(q.get("analyzed_nodes", 0) for q in wv_reqs) / max(1, len(wv_reqs))
                           if lang_reqs else 0.0)
    m["lang.lower_jobs"] = per(tot.get("lang.lower.jobs", 0.0))
    m["lang.analyzer_passes"] = per(tot.get("lang.lower.analyzer_passes", 0.0)
                                    + tot.get("lang.parse.analyzer_passes", 0.0))
    m["sql.script_s"] = per(by_name.get("sql.script", 0.0))
    m["sql.script_jobs"] = per(tot.get("sql.script.jobs", 0.0))
    m["sql.analyzer_passes"] = per(tot.get("sql.script.analyzer_passes", 0.0))
    resolve = [s for s in spans if s["layer"] == "tables"]
    calls = sum(s["counts"].get("resolve_calls", 0) for s in resolve)
    m["tables.resolve_s"] = per(sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in resolve))
    m["tables.resolve_calls"] = per(calls)
    m["tables.memo_hit_ratio"] = (sum(s["counts"].get("memo_hits", 0) for s in resolve) / calls
                                  if calls else 0.0)
    n_q = max(1, len(reqs))
    m["catalyst.analysis_s"] = rsum("analysis_s") / n_q
    m["catalyst.optimization_s"] = rsum("optimization_s") / n_q
    m["catalyst.planning_s"] = rsum("planning_s") / n_q
    m["catalyst.rule_invocations"] = rsum("rule_invocations") / n_q
    m["catalyst.rule_effective_ratio"] = (rsum("rule_effective") / rsum("rule_invocations")
                                          if rsum("rule_invocations") else 0.0)
    m["catalyst.plan_nodes"] = rsum("plan_nodes") / n_q
    m["catalyst.exchanges"] = rsum("exchanges") / n_q
    m["exec.wall_s"] = per(by_name.get("exec.collect", 0.0))
    for k in ("jobs", "stages", "tasks", "task_run_s", "task_cpu_s", "task_wait_s", "gc_s",
              "shuffle_write_bytes", "shuffle_read_bytes", "shuffle_fetch_wait_s", "spill_bytes",
              "input_bytes", "task_failures"):
        m[f"exec.{k}"] = per(tot.get(k, 0.0))
    m["exec.cpu_util"] = tot.get("task_cpu_s", 0.0) / (wall * 4) if wall else 0.0
    m["exec.result_rows"] = rsum("result_rows") / n_q
    if workload == "curation_batch":
        for op in ("pairs", "cc", "drop", "split", "decontaminate"):
            m[f"operators.{op}_s"] = per(by_name.get(f"operators.{op}", 0.0))
        cand = [q["candidate_pairs"] for q in reqs if q.get("candidate_pairs")]
        pairs = [q["result_rows"] for q in reqs if q["kind"] == "pairs"]
        m["operators.candidate_pairs"] = median(cand)
        m["operators.pairs"] = median(pairs)
        m["operators.pair_yield"] = m["operators.pairs"] / m["operators.candidate_pairs"] \
            if m["operators.candidate_pairs"] else 0.0
        m["operators.cc_jobs"] = per(tot.get("operators.cc.jobs", 0.0))
    if workload == "ingest_probe":
        rounds = cycles
        nr = max(1, len(rounds))
        appended = sum(c["appended_rows"] for c in rounds)
        m["index.append_s"] = by_name.get("index.append", 0.0) / nr
        m["index.append_bytes_per_row"] = (sum(c["index"].get("bytes_added", 0) for c in rounds)
                                           / appended if appended else 0.0)
        m["index.files"] = max([c["index"].get("files", 0) for c in rounds] or [0])
        probes = [s for s in spans if s["layer"] == "index" and s["name"] == "probe"]
        np_ = max(1, len(probes))
        m["index.probe_s"] = sum((s["end_ns"] - s["start_ns"]) / 1e9 for s in probes) / np_
        probe_reqs = {s["req"] for s in probes}
        m["index.probe_input_bytes"] = sum(
            s["counts"].get("input_bytes", 0) for s in spans if s["req"] in probe_reqs) / np_
        for k in ("start_s", "trigger_s", "add_batch_s", "query_planning_s", "latest_offset_s",
                  "wal_commit_s", "rows"):
            m[f"streaming.{k}"] = sum(c["stream"][k] for c in rounds) / nr
    m["jvm.gc_s"] = jvm["gc_s"]
    m["jvm.jit_s"] = jvm["jit_s"]
    m["jvm.heap_peak_mb"] = jvm["heap_peak_mb"]
    for l in LAYERS:
        m[f"self.{l}_s"] = per(layers[l])
    m["trace.overhead_ratio"] = overhead(samples)
    return m, layers, wall


def overhead(samples):
    """Median over request pairs of traced / untraced latency, minus 1: a
    traced run runs each request twice back to back, in alternating order."""
    pairs = {}
    for q in samples["requests"]:
        if q["error"] is None and "pair" in q:
            pairs.setdefault(q["pair"], {})[q["traced"]] = q["latency_s"]
    ratios = [p[True] / p[False] for p in pairs.values() if len(p) == 2 and p[False] > 0]
    return median(ratios) - 1.0 if ratios else 0.0


def summarize(workload, trace, samples, verdicts):
    reqs = samples["requests"]
    attempted = len(reqs)
    failed = sum(1 for q in reqs if q["error"] is not None or verdicts.get(q["check"]) is not None)
    # the ingest sink is checked once, as one more operation
    sink_bad = [c for c, v in verdicts.items() if c.startswith("ingest_sink") and v is not None]
    if workload == "ingest_probe":
        attempted += 1
        failed += 1 if sink_bad else 0
    ok = [q for q in reqs if q["error"] is None and not q["traced"]]
    lat = [q["latency_s"] for q in ok]
    tv, tp, tn = tail(lat)
    wall = samples["wall_s"]
    e2e = {
        "setup_s": median(samples["setup_s"]),
        "peak_rss_mb": samples["jvm"]["peak_rss_mb"],
        "query_p50_s": p50(lat),
        "queries_per_s": len([q for q in reqs if q["error"] is None]) / wall if wall else 0.0,
        "compile_p50_s": p50([q["compile_s"] for q in ok]),
    }
    extra = {"query_tail_s": (tv, "s", f"p{tp}, n={tn}"),
             "error_rate": (failed / attempted if attempted else 0.0, "ratio",
                            f"{failed} of {attempted}")}
    cyc = [c for c in samples["cycles"] if not c.get("traced")]
    if workload == "curation_batch":
        passes = [c["wall_s"] for c in cyc]
        extra["docs_per_s"] = (cyc[0]["docs"] / median(passes) if passes else 0.0, "docs/s",
                               f"median of {len(passes)} passes")
    if workload == "ingest_probe":
        fr = [c["freshness_s"] for c in cyc]
        fv, fp, fn = tail(fr)
        extra["freshness_p50_s"] = (p50(fr), "s", f"n={len(fr)}")
        extra["freshness_tail_s"] = (fv, "s", f"p{fp}, n={fn}")
        ing = sum(c["ingest_s"] for c in cyc)
        extra["ingest_rows_per_s"] = (sum(c["appended_rows"] for c in cyc) / ing if ing else 0.0,
                                      "rows/s", "")
        pl = [q["latency_s"] for q in ok if q["kind"] == "probe"]
        pv, pp, pn = tail(pl)
        extra["probe_p50_s"] = (p50(pl), "s", f"n={len(pl)}")
        extra["probe_tail_s"] = (pv, "s", f"p{pp}, n={pn}")
    out = {"e2e": e2e, "extra": extra, "tail": (tp, tn), "layers": None}
    if trace:
        m, layers, twall = layer_metrics(workload, samples)
        out["per_layer"] = m
        out["layers"] = {"self_s": layers, "traced_wall_s": twall}
        metrics = {k: {"value": m[k], "unit": u} for k, u in PER_LAYER}
    else:
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END}
    out["contract"] = {"correct": failed == 0, "attempted": attempted, "failed": failed,
                       "metrics": metrics}
    return out


def print_human(workload, seed, trace, digests, samples, verdicts, result):
    p = print
    p(f"== perfbench workload={workload} seed={seed} trace={trace} "
      f"wall={samples['wall_s']:.2f}s setups={['%.3f' % s for s in samples['setup_s']]}")
    for k, v in sorted(digests.items()):
        p(f"   input {k}: {v}")
    bad = {c: v for c, v in verdicts.items() if v is not None}
    for q in samples["requests"]:
        if q["error"] is not None:
            p(f"   FAILED {q['name']}: {q['error']}")
    for c, v in sorted(bad.items()):
        p(f"   WRONG  {c}: {v}")
    p(f"   checks: {len(verdicts) - len(bad)}/{len(verdicts)} results equal the DuckDB oracle; "
      f"reads under {samples['guarded_root']} fail")
    if not trace:
        tp, tn = result["tail"]
        notes = {"query_p50_s": f"n={tn}"}
        for k, u in END_TO_END:
            p(f"   {k:<22} {result['e2e'][k]:>14.6g} {u:<8} {notes.get(k, '')}")
        for k, (v, u, note) in result["extra"].items():
            p(f"   {k:<22} {v:>14.6g} {u:<8} {note}")
        return
    m = result["per_layer"]
    for k in sorted(m):
        p(f"   {k:<34} {m[k]:>14.6g}")
    lay = result["layers"]
    w = lay["traced_wall_s"]
    p(f"   self time by layer over {w:.3f} s of traced requests:")
    for l in LAYERS:
        s = lay["self_s"].get(l, 0.0)
        p(f"     {l:<13} {s:>9.3f} s  {100 * s / w if w else 0:5.1f}%")
    p(f"     {'total':<13} {sum(lay['self_s'].values()):>9.3f} s")
    p(f"   tracing overhead: {100 * m['trace.overhead_ratio']:+.1f}% (traced vs untraced requests)")
