#!/usr/bin/env python3
"""graft benchmark: one workload per invocation, closed loop, one client.

    python3 perfbench/run.py --workload {corpus,writes} \
        --seed N --seconds S --trace {0,1}

Run from the repository root. The first run builds the engine and the
harness with sbt (perfbench/build.sbt) and caches the classpath under
.perfbench/; every run then starts fresh JVMs directly on that classpath,
so sbt's own start-up is never timed. Inputs are generated from --seed
(the writes workload's word corpus and wave slicing) or read from the fixed
tables in perfbench/data (corpus). Outputs are checked after the timed
passes. The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}, with the end-to-end metrics
of BENCHMARK.json when --trace 0 and its per-layer metrics when --trace 1.
A crashed or wrong operation is listed on stderr and makes the exit code 1.
See perfbench/README.md for workloads, metrics and recorded numbers.
"""
import argparse
import hashlib
import json
import os
import random
import re
import shutil
import statistics
import subprocess
import sys
import time

import digest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
DATA = os.path.join(HERE, "data", "sf0.01")
WORKLOADS = ("corpus", "writes")

# A run warms up first: the first pass (JIT cold), then the corpus check
# pass or a second writes pass. Set-up includes the warm-up.
# Then it measures cycles: clear the workload's state, one cold pass, one
# warm pass. The number of cycles is --seconds over the nominal length of a
# cycle on a 4-core host (CYCLE_S), rounded down and at least MIN_CYCLES, so
# every run with the same --seconds measures the same work whatever the
# host's speed.
CYCLE_S = 11.0
MIN_CYCLES = 2

# writes: MapReduce jobs over a Zipf word corpus, split into files assigned
# round-robin to the map tasks, as the reference's job descriptor does.
CORPUS_FILES = 16
CORPUS_LINES = 24000
VOCAB = 6000
ZIPF_S = 1.1
GREP_RANK = 62  # a 9-letter word: few substring matches beyond itself
MAPPERS = 8
REDUCERS = 4
# corpus: queries that build the corpus and embedding memos in the cold
# passes and hit them in the warm ones, including the barrier-bound d10 and s05.
CORPUS_QUERIES = [
    "d02_dedup_minhash_lsh", "d10_incremental_keep", "s01_ann_cosine_topk", "s05_ann_recall",
]
# writes: pass k of a cycle folds wave k of WAVES waves of WAVE_DOCS
# documents into the cycle's new view: a base from empty state, then a
# delta (the engine's default writes a base every 8 generations).
WAVES = 2
WAVE_DOCS = 100
BASE_WAVE_SEED = 42
JVM_HEAP = "2g"
RUN_LIMIT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- build

def source_stamp():
    h = hashlib.sha256()
    roots = ["build.sbt", "project", "src/main", "perfbench/build.sbt",
             "perfbench/project", "perfbench/src"]
    for r in roots:
        top = os.path.join(ROOT, r)
        paths = [top] if os.path.isfile(top) else [
            os.path.join(d, f) for d, dirs, files in os.walk(top)
            if "target" not in os.path.relpath(d, top).split(os.sep) for f in files]
        for p in sorted(paths):
            if p.endswith((".sbt", ".scala", ".properties", ".java")):
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as f:
                    h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compile the engine and the harness once per source state; return the
    runtime classpath."""
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found under {ROOT}: run from a full checkout")
    stamp = source_stamp()
    cache = os.path.join(STATE, "build.json")
    if os.path.exists(cache):
        with open(cache) as f:
            got = json.load(f)
        if got["stamp"] == stamp and all(os.path.exists(p) for p in got["classpath"].split(":")):
            return got["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # Keep sbt's temporary files inside the checkout.
    tmp = os.path.join(STATE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -Dsbt.server.autostart=false"
    env["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = [l for l in proc.stdout.splitlines() if "scala-2.13/classes" in l and ":" in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        fail("build failed")
    classpath = lines[-1].strip()
    os.makedirs(STATE, exist_ok=True)
    with open(cache, "w") as f:
        json.dump({"stamp": stamp, "classpath": classpath}, f)
    return classpath


# ---------------------------------------------------------------- inputs

def md5_part(key, n):
    return int(hashlib.md5(key.encode()).hexdigest(), 16) % n


def make_corpus(rng, out):
    """Zipf-distributed word corpus. Returns the expected word counts (the
    reference mapper's tokenization: lowercase, split on space, tab and
    brackets, empty tokens kept), the grep query, the expected grep lines
    and the input size."""
    # Word lengths depend on the Zipf rank only, so the corpus size and the
    # shuffle volume are the same for every seed; the seed picks the words.
    letters = "abcdefghijklmnopqrstuvwxyz"
    vocab, seen = [], set()
    while len(vocab) < VOCAB:
        w = "".join(rng.choice(letters) for _ in range(3 + len(vocab) % 7))
        if w not in seen:
            seen.add(w)
            vocab.append(w)
    weights, acc = [], 0.0
    for r in range(len(vocab)):
        acc += 1.0 / (r + 1) ** ZIPF_S
        weights.append(acc)
    query = vocab[GREP_RANK]
    os.makedirs(out)
    counts, grep, size = {}, [], 0
    files = [open(os.path.join(out, f"file{i:02d}"), "w") for i in range(CORPUS_FILES)]
    for n in range(CORPUS_LINES):
        if rng.random() < 0.01:
            line = ""
        else:
            words = rng.choices(vocab, cum_weights=weights, k=rng.randint(4, 16))
            toks = []
            for w in words:
                u = rng.random()
                toks.append(w.capitalize() if u < 0.08 else f"[{w}]" if u < 0.1 else w)
            line = "".join(t + (" " if rng.random() < 0.95 else "\t") for t in toks).rstrip(" \t")
        files[n % CORPUS_FILES].write(line + "\n")
        size += len(line) + 1
        for t in re.split(r"[ \t\[\]]", line.lower()):
            counts[t] = counts.get(t, 0) + 1
        s = line.strip()
        if s and query in s.lower():
            grep.append(s)
    for f in files:
        f.close()
    return counts, query, sorted(grep), size


def make_waves(rng, out):
    """WAVES disjoint waves of WAVE_DOCS documents from the fixed documents
    table. Wave 0, the one every cycle's cold pass folds into an empty
    view, is the same for every seed: the cost of a base fold from empty
    state depends on which documents collide in its buckets, by up to 30 %
    between seed-chosen waves. The seed chooses the other waves."""
    import pyarrow.parquet as pq
    docs = pq.read_table(os.path.join(DATA, "documents.parquet"))
    order = list(range(docs.num_rows))
    random.Random(BASE_WAVE_SEED).shuffle(order)
    rest = order[WAVE_DOCS:]
    rng.shuffle(rest)
    order[WAVE_DOCS:] = rest
    os.makedirs(out)
    size = 0
    for w in range(WAVES):
        path = os.path.join(out, f"wave-{w:02d}.parquet")
        pq.write_table(docs.take(sorted(order[w * WAVE_DOCS:(w + 1) * WAVE_DOCS])), path)
        size += os.path.getsize(path)
    return size


# ---------------------------------------------------------------- checks

def check_mapreduce(work, expect_wc, expect_grep):
    """Every job's part files: REDUCERS files, each key in part
    md5(key) % REDUCERS, key-sorted, and the values equal to the
    generator's own counts."""
    bad = []
    grep_part = md5_part("1", REDUCERS)
    outs = sorted(os.listdir(os.path.join(work, "mr")))
    for name in outs:
        d = os.path.join(work, "mr", name)
        parts = sorted(os.listdir(d))
        if parts != [f"part-{p:05d}" for p in range(REDUCERS)]:
            bad.append(f"{name}: files {parts}")
            continue
        got = {}
        for p, part in enumerate(parts):
            with open(os.path.join(d, part)) as f:
                lines = f.read().split("\n")[:-1]
            if name.startswith("wc"):
                keys = [l.rsplit("\t", 1)[0] for l in lines]
                if keys != sorted(set(keys)) or any(md5_part(k, REDUCERS) != p for k in keys):
                    bad.append(f"{name}/{part}: keys unsorted or misrouted")
                got.update((k, int(l.rsplit("\t", 1)[1])) for k, l in zip(keys, lines))
            elif (p == grep_part and lines != expect_grep) or (p != grep_part and lines):
                bad.append(f"{name}/{part}: grep lines differ")
        if name.startswith("wc") and got != expect_wc:
            bad.append(f"{name}: word counts differ")
    return bad


def check_queries(work, names):
    with open(os.path.join(HERE, "golden.json")) as f:
        golden = json.load(f)
    bad = []
    for n in names:
        path = os.path.join(work, "results", n)
        if n not in golden:
            bad.append(f"{n}: no golden digest")
        elif not os.path.isdir(path):
            bad.append(f"{n}: no result")
        else:
            d, rows = digest.digest_parquet_dir(path)
            if d != golden[n]["digest"]:
                bad.append(f"{n}: digest {d[:12]} ({rows} rows) != golden "
                           f"{golden[n]['digest'][:12]} ({golden[n]['rows']} rows)")
    return bad


# ---------------------------------------------------------------- metrics

def pass_walls(ops, phase):
    """Wall time of every pass of a phase."""
    passes = {}
    for o in ops:
        if o["phase"] == phase:
            passes[o["pass"]] = passes.get(o["pass"], 0.0) + o["wall"]
    return list(passes.values())


def end_to_end(res):
    """End-to-end metrics of an untraced run, and the sample counts behind
    them."""
    ops = res["ops"]
    cold, warm = pass_walls(ops, "cold"), pass_walls(ops, "warm")
    return {
        "setup_s": res["setup"]["setup_s"],
        "cold_pass_s": statistics.median(cold),
        "warm_pass_s": statistics.median(warm),
        "heap_retained_mb": res["heap_retained_mb"],
    }, {"cold_passes": len(cold), "warm_passes": len(warm),
        "warm_ops": sum(1 for o in ops if o["phase"] == "warm")}


def med(xs):
    return statistics.median(xs) if xs else 0.0


def workload_figures(res, inputs):
    """The workload-specific figures: the median over the workload's
    operations (query, job or fold kind) of each one's median warm latency,
    job medians, memo builds and storage, view amplification. Zero where a
    workload has none. Memo builds are medians over the cold passes; view
    figures are those of the first view."""
    ops = res["ops"]
    warm = [o for o in ops if o["phase"] == "warm"]
    cold = {}
    for o in ops:
        if o["phase"] == "cold":
            cold.setdefault(o["pass"], []).extend(o["memo"])
    folds = [f for f in res["folds"] if f["view"] == 0]
    written = sum(f["written"] for f in folds)
    live = folds[-1]["live"] if folds else 0
    wave_bytes = inputs.get("wave_bytes", 0)
    by_name = {}
    for o in warm:
        by_name.setdefault(o["name"], []).append(o["wall"])
    out = {
        "ops.warm_p50_s": med([med(v) for v in by_name.values()]),
        "mr.wc_job_s": med([o["wall"] for o in warm if o["name"] == "wc"]),
        "mr.grep_job_s": med([o["wall"] for o in warm if o["name"] == "grep"]),
        "memo.builds": med([len(b) for b in cold.values()]),
        "memo.build_s": med([sum(x["s"] for x in b) for b in cold.values()]),
        "memo.warm_rebuilds": res["check_builds"] + sum(
            len(o["memo"]) for o in ops if o["phase"] == "warm"),
        "memo.storage_peak_mb": res["storage_peak_mb"],
        "views.fold_s": med([o["wall"] for o in warm if o["kind"] == "fold"]),
        "views.bytes_written_mb": written / 1e6,
        "views.live_state_mb": live / 1e6,
        "views.write_amp": written / wave_bytes if wave_bytes else 0.0,
        "views.space_amp": live / wave_bytes if wave_bytes else 0.0,
        "views.base_folds": sum(1 for f in folds if f["base"]),
        "views.gens_live": inputs.get("gens_live", 0),
    }
    for m in ("corpus", "emb", "tok"):
        out[f"memo.build_s.{m}"] = med(
            [sum(x["s"] for x in b if x["memo"] == m) for b in cold.values()])
    return out


def per_layer(res, inputs):
    ops = res["ops"]
    out = {k: v for k, v in res["setup"].items() if k.startswith("session.")}
    out.update(workload_figures(res, inputs))
    traced = [o for o in ops if o["traced"] and o["phase"] == "warm"]
    untraced = [o for o in ops if not o["traced"] and o["phase"] == "warm"]
    tpasses = sorted({o["pass"] for o in traced})
    for k in sorted({k for o in traced for k in o["layers"]}):
        if not k.startswith(("mr.", "trace.")):
            out[k] = sum(o["layers"][k] for o in traced) / len(tpasses)
    wall = sum(o["wall"] for o in traced)
    out["engine.core_util"] = sum(o["layers"]["engine.task_run_s"] for o in traced) / (
        wall * res["cores"])

    wc = [o for o in traced if o["name"] == "wc"]
    for k in ("mr.map_stage_s", "mr.reduce_stage_s", "mr.commit_s", "mr.shuffle_records"):
        out[k] = med([o["layers"][k] for o in wc])
    out["mr.shuffle_records_per_key"] = med(
        [o["layers"]["mr.shuffle_records"] / o["layers"]["mr.output_records"] for o in wc])
    out["views.jobs_per_fold"] = med([o["layers"]["engine.jobs"] for o in traced
                                      if o["kind"] == "fold"])

    t, u = med(pass_walls(traced, "warm")), med(pass_walls(untraced, "warm"))
    out["trace.warm_pass_s"] = t
    out["trace.untraced_warm_pass_s"] = u
    out["trace.overhead_frac"] = t / u - 1
    out.update(res["trace"])
    return out


# ---------------------------------------------------------------- main

def jvm(classpath, run_dir, args, deadline):
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
              "-cp", classpath, "perfbench.Harness",
              "--launch-ms", repr(time.time() * 1000)] + args)
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
               SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))))
    with open(os.path.join(run_dir, "jvm.log"), "a") as log:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.DEVNULL,
                                stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    if rc != 0:
        with open(os.path.join(run_dir, "jvm.log")) as f:
            sys.stderr.write(f.read()[-6000:])
        fail(f"harness JVM ended with {rc}")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    classpath = build()
    start = time.time()
    deadline = start + RUN_LIMIT_S
    run_dir = os.path.join(STATE, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    work, inp = os.path.join(run_dir, "work"), os.path.join(run_dir, "input")
    for d in (work, inp, os.path.join(run_dir, "tmp")):
        os.makedirs(d)
    try:
        rng = random.Random(a.seed)
        inputs, extra = {}, []
        extra = ["--cycles", str(max(MIN_CYCLES, int(a.seconds / CYCLE_S)))]
        if a.workload == "writes":
            wc, query, grep, size = make_corpus(rng, os.path.join(inp, "corpus"))
            inputs.update(corpus_mb=size / 1e6, grep_query=query, grep_lines=len(grep),
                          distinct_words=len(wc))
            inputs["wave_bytes"] = make_waves(rng, os.path.join(inp, "waves"))
            extra += ["--grep-query", query, "--mappers", str(MAPPERS),
                      "--reducers", str(REDUCERS)]
        else:
            extra += ["--queries", ",".join(CORPUS_QUERIES)]

        out = os.path.join(run_dir, "result.json")
        jvm_start = time.time()
        jvm(classpath, run_dir, ["--workload", a.workload, "--data", DATA, "--input", inp,
                                 "--work", work,
                                 "--trace", str(a.trace), "--out", out] + extra, deadline)
        inputs["jvm_s"] = time.time() - jvm_start
        with open(out) as f:
            res = json.load(f)
        shutil.copy(out, os.path.join(STATE, f"last-{a.workload}-trace{a.trace}.json"))

        # Output checks (untimed).
        bad = [f"{o['name']} pass {o['pass']}: {o['error']}" for o in res["ops"] if o["error"]]
        bad += [f"{k}: {v}" for k, v in res["checks"].items()]
        if a.workload == "writes":
            bad += check_mapreduce(work, wc, grep)
            inputs["gens_live"] = sum(1 for d in os.listdir(os.path.join(work, "views", "v0"))
                                      if d.startswith("gen="))
        else:
            bad += check_queries(work, CORPUS_QUERIES)

        attempted = len(res["ops"])
        failed = min(attempted, len(bad))
        e2e, counts = end_to_end(res)
        if a.trace:
            got = per_layer(res, inputs)
            if res["trace"]["trace.reconcile_fail_ops"] > 0:
                bad.append("trace self-check: layer self times do not reconcile with wall time")
                failed = min(attempted, len(bad))
            names = spec["per_layer"]
            with open(os.path.join(STATE, f"spans-{a.workload}-{a.seed}.json"), "w") as f:
                json.dump(res["spans"], f)
        else:
            got = e2e
            names = spec["end_to_end"]
        metrics = {m["name"]: {"value": got[m["name"]], "unit": m["unit"]} for m in names}
        detail = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
                  "failed_frac": failed / attempted,
                  "failures": bad, **inputs, **counts}
        if not a.trace:
            detail.update(workload_figures(res, inputs))
        detail["run_s"] = time.time() - start
        print("detail " + json.dumps(detail, sort_keys=True))
        for b in bad:
            print(f"perfbench: FAILED {b}", file=sys.stderr)
        print(json.dumps({"correct": not bad, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
        sys.stdout.flush()
        sys.exit(1 if bad else 0)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
