#!/usr/bin/env python3
"""The engine's benchmark: one command, two workloads.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness (sbt, offline) into the checkout; later runs reuse the build while
the sources are unchanged. Every run works in a fresh directory under
`.bench_build/runs/`, deleted at the end. The last line of standard output
is one JSON object: `correct`, `attempted`, `failed` and `metrics` (the
end-to-end metrics, or the per-layer metrics with `--trace 1`).

Extra flags:
    --check         one set-up and one pass, then the output checks only
    --save DIR      also write the run's record as JSON into DIR (for compare.py)
See perfbench/README.md.
"""
import argparse
import hashlib
import heapq
import json
import os
import random
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import check  # noqa: E402
import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
GRAPH = os.path.join(ROOT, "src", "test", "resources", "syn.graph")

MR_N = 1_000_000
MR_CARDINALITIES = [100, 1_000_000]
TABLE_SF = 0.02
# the SSSP solve runs on the part of syn.graph within SSSP_DEPTH
# shortest-path hops of one fixed source: the first node (in id order)
# whose neighbourhood holds SSSP_NODES nodes. Every seed solves the same
# structure; the seed relabels its node ids.
SSSP_DEPTH = 8
SSSP_NODES = (60, 100)
SETUPS = 3
# untimed passes before the window; the JIT is still settling on the
# short MapReduce passes after two
WARMUPS = {"mr_number_count": 3, "catalog_mix": 2}
JVM_TIMEOUT_S = 160

def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def catalog_entries():
    with open(os.path.join(HERE, "catalog_mix.txt")) as f:
        return [ln.split("#")[0].strip() for ln in f if ln.split("#")[0].strip()]


# -- build -------------------------------------------------------------------

def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
             os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, fs in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, f) for f in sorted(fs)]
    for p in files:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} -Dsbt.offline=true -Xmx2g")
    return env


def build():
    """Compile the engine and harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        raise SystemExit("perfbench: no engine sources beside perfbench/ "
                         "(run from the repository root)")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "build.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log("building engine and harness (sbt)")
    t0 = time.time()
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         f"-Djava.io.tmpdir={tmp}", "-J-XX:-UsePerfData",
         "compile", "export Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850, stdin=subprocess.DEVNULL)
    lines = [ln for ln in p.stdout.splitlines() if ln.strip()]
    if p.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"perfbench: build failed (exit {p.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


# -- inputs ------------------------------------------------------------------

def spt_hops(adj, src):
    """Hops of each node on its shortest path from `src` (fewest hops among
    equal-length paths)."""
    dist, hop, done = {src: 0.0}, {src: 0}, set()
    pq = [(0.0, 0, src)]
    while pq:
        d, h, u = heapq.heappop(pq)
        if u in done:
            continue
        done.add(u)
        for v, w in adj[u]:
            nd = d + w
            if nd < dist.get(v, float("inf")) or (nd == dist[v] and h + 1 < hop[v]):
                dist[v], hop[v] = nd, h + 1
                heapq.heappush(pq, (nd, h + 1, v))
    return hop


def write_neighbourhood(seed, path):
    """Write the SSSP input: the subgraph of syn.graph induced by the nodes
    within SSSP_DEPTH shortest-path hops of the fixed source, in syn.graph's
    own format (each undirected edge once), with node ids relabelled by a
    seeded permutation. Returns (relabelled source, directed edge count)."""
    edges = []
    with open(GRAPH) as f:
        f.readline()
        for line in f:
            t = line.split()
            if len(t) == 3:
                edges.append((int(t[0]), int(t[1]), t[2]))
    adj = check.load_graph(GRAPH)
    for source in sorted(adj):
        hop = spt_hops(adj, source)
        keep = sorted(n for n, h in hop.items() if h <= SSSP_DEPTH)
        if max(hop.values()) > SSSP_DEPTH and \
                SSSP_NODES[0] <= len(keep) <= SSSP_NODES[1]:
            break
    ids = list(range(len(adj)))
    random.Random(seed).shuffle(ids)
    label = dict(zip(keep, ids))
    kept = set(keep)
    sub = [(label[a], label[b], w) for a, b, w in edges if a in kept and b in kept]
    with open(path, "w") as f:
        f.write(f"{len(keep)} {len(sub)}\n")
        f.writelines(f"{a} {b} {w}\n" for a, b, w in sub)
    return label[source], 2 * len(sub)


def jvm_args(workload, seed, data_dir, check_only):
    a = {"workload": workload}
    if workload == "mr_number_count":
        a.update({"mr-n": MR_N, "mr-seed": seed % (1 << 20),
                  "mr-cardinalities": ",".join(map(str, MR_CARDINALITIES))})
    else:
        graph = os.path.join(data_dir, "neighbourhood.graph")
        source, edges = write_neighbourhood(seed, graph)
        rows = gen.generate(data_dir, TABLE_SF, doc_perm_seed=seed % (1 << 32))
        entries = catalog_entries()
        random.Random(seed).shuffle(entries)
        a.update({"graph": graph, "source": source, "edges": edges,
                  "data": data_dir, "entries": ",".join(entries),
                  "table-rows": ",".join(f"{k}={v}" for k, v in rows.items())})
    if check_only:
        a.update({"setups": 1, "warmups": 1})
    return a


JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def run_jvm(cp, args, run_dir):
    work = os.path.join(run_dir, "work")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", "-Xms2g", "-Xmx2g", "-XX:+UseG1GC", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for m in JAVA_OPENS:
        cmd += ["--add-opens", f"{m}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"]
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    env.pop("SPARK_CONF_DIR", None)
    log_path = os.path.join(run_dir, "jvm.log")
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=lf,
                             stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = "timeout"
    if rc != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        raise SystemExit(f"perfbench: harness failed ({rc})")


# -- main --------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=["mr_number_count", "catalog_mix"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--check", action="store_true")
    ap.add_argument("--save")
    o = ap.parse_args()

    cp = build()
    run_dir = os.path.join(BUILD, "runs", f"{o.workload}-{o.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data_dir = os.path.join(run_dir, "data")
    os.makedirs(data_dir)
    try:
        args = jvm_args(o.workload, o.seed, data_dir, o.check)
        args.update({
            "seconds": 0 if o.check else o.seconds, "trace": o.trace,
            "cpus": os.cpu_count() or 1, "setups": args.get("setups", SETUPS),
            "warmups": args.get("warmups", WARMUPS[o.workload]),
            "work": os.path.join(run_dir, "work"),
            "out": os.path.join(run_dir, "result.json"),
            "trace-out": os.path.join(
                BUILD, "traces", f"{o.workload}-seed{o.seed}.json")})
        run_jvm(cp, args, run_dir)
        with open(os.path.join(run_dir, "result.json")) as f:
            res = json.load(f)
        verdicts = check.check_all(res["checks"], data_dir=data_dir,
                                   graph_path=args.get("graph"))
        report(o, res, verdicts)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(o, res, verdicts):
    attempted = res["attempted"]
    failed = 0
    for c in res["checks"]:
        # a wrong reference output makes every run of that operation wrong
        failed += c["attempted"] if verdicts.get(c["op"]) else c["failed"]
    failed = min(failed, attempted)
    correct = failed == 0 and not res["warmup_failures"] and \
        all(v is None for v in verdicts.values())
    metrics = res["per_layer"] if o.trace else res["end_to_end"]
    out = sys.stdout
    print(f"workload {o.workload}, seed {o.seed}: {res['input']}", file=out)
    print(f"  contention sentinel (graft.Bench.calibrate): {res['calibration_ms']} ms; "
          f"set-ups (ms): {', '.join(f'{x:.0f}' for x in res['setups_ms'])}; "
          f"warm-up passes {res['warmup_ms']:.0f} ms", file=out)
    print(f"  passes {res['passes']} (ms: {', '.join(f'{x:.0f}' for x in res['pass_ms'])}), "
          f"operations {res['samples']}; op_tail_s is p{res['tail']['percentile']:g} "
          f"with {res['tail']['beyond']} samples beyond; "
          f"{res['gcs_in_window']} collections in the window", file=out)
    for c in res["checks"]:
        v = verdicts.get(c["op"])
        op = res["ops"].get(c["op"], {})
        print(f"  check {c['op']}: {'ok' if v is None else 'FAILED: ' + v} "
              f"({c['attempted']} runs, {c['failed']} failed or differing from the first; "
              f"p50 {op.get('p50_s', float('nan')):.3f} s)", file=out)
    print(f"  failed_frac {failed / max(1, attempted):.4f} ({failed} of {attempted})",
          file=out)
    for k, m in metrics.items():
        print(f"  {k:34s} {m['value']:>16.6g} {m['unit']}", file=out)
    line = {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": m["value"], "unit": m["unit"]}
                        for k, m in metrics.items()}}
    if o.save:
        os.makedirs(o.save, exist_ok=True)
        rec = dict(line, workload=o.workload, seed=o.seed, trace=o.trace,
                   calibration_ms=res["calibration_ms"], time=time.time())
        name = f"{o.workload}-seed{o.seed}-trace{o.trace}-{int(time.time() * 1000)}.json"
        with open(os.path.join(o.save, name), "w") as f:
            json.dump(rec, f)
    print(json.dumps(line), flush=True)


if __name__ == "__main__":
    main()
