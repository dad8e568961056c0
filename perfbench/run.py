#!/usr/bin/env python3
"""One command for the benchmark: builds the engine from source, generates
the seeded inputs, runs one workload in a fresh JVM for about
``--seconds`` (whole loop units; see README), checks every result against
DuckDB and prints the metrics.

    python3 perfbench/run.py --workload interactive_mix --seed 1 --seconds 12 --trace 0

Run from the root of a checkout. Everything it writes lands under
``.bench_build/`` there. The last line of stdout is one JSON object with
the keys ``correct``, ``attempted``, ``failed`` and ``metrics``. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import pickle
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import report  # noqa: E402

WORKLOADS = ("interactive_mix", "curation_batch", "ingest_probe")
BUILD = os.path.join(ROOT, ".bench_build")
# every run, build included, must end well inside the 180 s limit (900 s
# when it has to build first)
RUN_LIMIT_S = 170
# scale of the interactive_mix tables (see README: why not sf0.1)
TABLES_SF = "0.1"
BUILD_LIMIT_S = 700
JVM_OPTS = [
    # a fixed heap: the resident-set peak then tracks what the run
    # touches, not how far the collector chose to grow the heap
    "-Xms2g", "-Xmx2g", "-Xss4m",
    # lets the harness install its read guard (Main.scala, ReferenceGuard)
    "-Djava.security.manager=allow",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ------------------------------------------------------------------ build

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(f.encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(deadline):
    """Compile the engine and the harness (sbt, offline) once per source
    state; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "build.stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file) and \
            open(stamp_file).read() == stamp:
        return open(cp_file).read().strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env and os.path.exists(os.path.expanduser("~/.sbt/repositories")):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true -Dsbt.repository.config="
                           + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true")
    env["SBT_OPTS"] = env.get("SBT_OPTS", "") + " -Xmx2g"
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=max(60, deadline - time.time()))
    lines = open(log).read().splitlines()
    if p.returncode != 0:
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        die("build failed (log: .bench_build/build.log)")
    cp = [l for l in lines if "scala-library" in l and ":" in l and not l.startswith("[")]
    if not cp:
        die("build produced no classpath")
    with open(cp_file, "w") as f:
        f.write(cp[-1].strip())
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp[-1].strip()


# ----------------------------------------------------------------- inputs

def base_tables():
    """The fixed catalog tables, generated once per checkout."""
    d = os.path.join(BUILD, "inputs", f"tables-sf{TABLES_SF}")
    marker = os.path.join(d, "DIGESTS.json")
    if not os.path.exists(marker):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        digests = gen.base_tables(tmp, TABLES_SF)
        with open(os.path.join(tmp, "DIGESTS.json"), "w") as f:
            json.dump(digests, f, sort_keys=True)
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d, json.load(open(marker))


def load_rows():
    """interactive_rows.tsv: name, family, warm latency ms, warm compile ms."""
    rows = []
    with open(os.path.join(HERE, "interactive_rows.tsv")) as f:
        for line in f:
            if line.strip() and not line.startswith("#"):
                name, family, lat, comp = line.rstrip("\n").split("\t")[:4]
                rows.append((name, family, float(lat), float(comp)))
    return rows


# interactive_mix plan shape: rows per matched group (the seed picks one
# of each), parts per round (the timed loop stops only between parts),
# the weight of compile time next to latency when matching, and how far
# apart (squared, in spreads) rows may be and still share a group
GROUP = 10
PARTS = 5
COMPILE_WEIGHT = 0.6
MAX_DIST = 0.3


def matched_groups(rows, size=GROUP):
    """Rows in groups of up to ``size`` of near-equal cost: the dearest row
    left with its ``size - 1`` nearest neighbours in (log latency, log
    compile) space, each axis in units of its spread over all rows, that
    lie within ``MAX_DIST`` of it. Any pick of one row per group then has
    about the same latency and compile-time profile, so the seed changes
    which rows run, not what the mix costs. A row with no near neighbour
    (the dearest, and a few outliers) forms a group of its own and runs
    on every seed."""
    pts = {n: (math.log(lat), math.log(comp)) for n, _, lat, comp in rows}
    sd = [statistics.pstdev(p[i] for p in pts.values()) for i in (0, 1)]

    def dist(a, b):
        return (((pts[a][0] - pts[b][0]) / sd[0]) ** 2
                + COMPILE_WEIGHT * ((pts[a][1] - pts[b][1]) / sd[1]) ** 2)

    left = [n for n, *_ in sorted(rows, key=lambda r: (-r[2], r[0]))]
    groups = []
    while left:
        a = left.pop(0)
        near = [n for n in sorted(left, key=lambda n: (dist(a, n), n))[:size - 1]
                if dist(a, n) <= MAX_DIST]
        left = [n for n in left if n not in near]
        groups.append([a] + near)
    return groups


def interactive_plan(seed, rows, n_rounds=60):
    """Seeded draw with repeats, balanced by cost. The seed picks the
    working set, one row of each matched group. A round runs the whole
    working set once, in ``PARTS`` parts: the set is cut, dearest first,
    into blocks of ``PARTS`` rows, and each part takes one row of every
    block, so every part spans the whole cost range. The seed orders the
    rows inside blocks and parts. Rows repeat from round to round, as in
    an analyst's session. Returns (plan as a list of parts, working set)."""
    rng = random.Random(seed)
    cost = {n: lat for n, _, lat, _ in rows}
    working = sorted((rng.choice(g) for g in matched_groups(rows)), key=lambda n: (-cost[n], n))
    blocks = [working[i:i + PARTS] for i in range(0, len(working), PARTS)]
    plan = []
    for _ in range(n_rounds):
        order = [rng.sample(b, len(b)) for b in blocks]
        for j in range(PARTS):
            part = [o[j] for o in order if j < len(o)]
            rng.shuffle(part)
            plan.append(part)
    return plan, sorted(working)


def make_inputs(workload, seed, inputs):
    """Generate the run's inputs under ``inputs``; returns {input: digest}."""
    os.makedirs(inputs)
    digests = {}
    if workload == "interactive_mix":
        tables, tdig = base_tables()
        os.symlink(tables, os.path.join(inputs, "tables"))
        digests.update({f"tables/{k}": v for k, v in tdig.items()})
        plan, working = interactive_plan(seed, load_rows())
        with open(os.path.join(inputs, "plan.txt"), "w") as f:
            f.write("".join(" ".join(part) + "\n" for part in plan))
        with open(os.path.join(inputs, "working_set.txt"), "w") as f:
            f.write("\n".join(working) + "\n")
        digests["plan"] = hashlib.sha256("\n".join(map(" ".join, plan)).encode()).hexdigest()[:16]
    elif workload == "curation_batch":
        d, planted = gen.curation_corpus(os.path.join(inputs, "curation"), seed)
        digests.update({f"curation/{k}": v for k, v in d.items()})
        digests["planted_near_dups"] = planted
    else:
        digests.update(gen.ingest_inputs(os.path.join(inputs, "ingest"), seed))
        rng = random.Random(seed)
        with open(os.path.join(inputs, "probes.txt"), "w") as f:
            for _ in range(200):
                f.write(",".join(str(q) for q in rng.sample(range(40), 10)) + "\n")
    return digests


# ------------------------------------------------------------------- JVM

def run_jvm(cp, workload, seconds, trace, work, inputs, deadline):
    log = os.path.join(work, "jvm.log")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java"] + JVM_OPTS + [
        f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
        "-cp", cp, "perfbench.Main", "run", workload, str(seconds), str(trace), work, inputs]
    with open(log, "w") as out:
        p = subprocess.Popen(cmd, cwd=work, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            p.wait(timeout=max(5, deadline - time.time()))
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            die("workload timed out")
    samples = os.path.join(work, "samples.json")
    if p.returncode != 0 or not os.path.exists(samples):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        die(f"JVM exited with {p.returncode}")
    return json.load(open(samples))


# ---------------------------------------------------------------- checks

def cached_expected(con, check):
    """The oracle's rows for a catalog check. Over the per-checkout tables
    (which carry DIGESTS.json) they are cached by SQL text and table
    digests, since both fully determine them."""
    import oracle
    digests = os.path.join(check["tables"], "DIGESTS.json")
    if not os.path.exists(digests):
        return oracle.expected(con, check["sql"])
    key = hashlib.sha256((check["sql"] + "\0" + open(digests).read()).encode()).hexdigest()
    path = os.path.join(BUILD, "oracle-cache", key + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    want = oracle.expected(con, check["sql"])
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + f".tmp{os.getpid()}", "wb") as f:
        pickle.dump(want, f)
    os.replace(path + f".tmp{os.getpid()}", path)
    return want


def run_checks(workload, samples, inputs):
    """{check id: None | failure reason}, each check run once."""
    import oracle  # needs the repository's tools/ next to perfbench/
    out = {}
    checks = samples["checks"]
    if workload != "ingest_probe":
        cons = {}
        for cid, c in checks.items():
            if c["tables"] not in cons:
                cons[c["tables"]] = oracle.connect(c["tables"])
            con = cons[c["tables"]]
            try:
                out[cid] = oracle.compare(con, c["result"], cached_expected(con, c))
            except Exception as e:  # an oracle that cannot run is a failed check
                out[cid] = f"oracle error: {e}"
        return out
    ing = os.path.join(inputs, "ingest")
    batches = sorted(glob.glob(os.path.join(ing, "batches", "*.parquet")))
    base = os.path.join(ing, "ingest_base.parquet")
    queries = os.path.join(ing, "probe_queries.parquet")
    by_round = {}
    for cid, c in checks.items():
        rnd = c["rounds"] - 1 if c["kind"] == "ingest_sink" else c["round"]
        by_round.setdefault(rnd, []).append((cid, c))
    for rnd, items in by_round.items():
        # batch 0 is drained by the set-up's warm-up round
        con = oracle.connect(views=oracle.ingest_views(base, batches[:rnd + 2]))
        qids = sorted({c["qid"] for _, c in items if c["kind"] == "bm25"})
        if qids:  # one BM25 pass per round for all of its probes
            con.execute("CREATE TABLE probe_oracle AS " + oracle.bm25_sql(queries, qids, 10))
        for cid, c in items:
            sql = {"ingest_sink": oracle.SINK_SQL, "ingest_read": oracle.READ_SQL}.get(
                c["kind"]) or f"SELECT * FROM probe_oracle WHERE query_id = {c['qid']}"
            try:
                out[cid] = oracle.compare(con, c["result"], oracle.expected(con, sql))
            except Exception as e:
                out[cid] = f"oracle error: {e}"
    return out


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    t_start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources (src/main/scala/graft) not found next to perfbench/")
    if shutil.which("java") is None or shutil.which("sbt") is None:
        die("java and sbt are required")
    os.makedirs(BUILD, exist_ok=True)
    cp = build(t_start + BUILD_LIMIT_S)
    deadline = time.time() + RUN_LIMIT_S
    work = os.path.join(BUILD, "work", f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        inputs = os.path.join(work, "inputs")
        t0 = time.time()
        digests = make_inputs(a.workload, a.seed, inputs)
        t1 = time.time()
        samples = run_jvm(cp, a.workload, a.seconds, a.trace, work, inputs, deadline - 25)
        t2 = time.time()
        verdicts = run_checks(a.workload, samples, inputs)
        print(f"   phases: build {t0 - t_start:.1f} s, inputs {t1 - t0:.1f} s, "
              f"JVM {t2 - t1:.1f} s, oracle {time.time() - t2:.1f} s")
        result = report.summarize(a.workload, a.trace, samples, verdicts)
        report.print_human(a.workload, a.seed, a.trace, digests, samples, verdicts, result)
        if a.trace:
            os.makedirs(os.path.join(BUILD, "traces"), exist_ok=True)
            with open(os.path.join(BUILD, "traces", f"{a.workload}-s{a.seed}.json"), "w") as f:
                json.dump({"spans": samples["spans"], "requests": samples["requests"],
                           "cycles": samples["cycles"], "layers": result["layers"]}, f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result["contract"]))


if __name__ == "__main__":
    main()
