"""Scaling-efficiency evidence for the north_rule (N → 4N cores).

No real cluster exists in the sandbox, so per driver instruction the
two "cluster sizes" are two parallelism levels of the same job on the
same input. Each level runs in a fresh JVM (subprocess) so nothing is
shared. Efficiency = throughput ratio / 4.

Round-3 protocol: the levels are INTERLEAVED in blocks
(N, 4N, N, 4N, …) so both levels sample the same VM window — this
machine's available compute drifts minute-to-minute (identical jobs
measured 27s and 63s an hour apart), and the round-2 level-by-level
sequence put ~40 minutes between the two levels, which is exactly the
drift horizon. The input table is materialized ONCE and shared
byte-identical by every block; each timed run is the engine DAG
(scan → tile → join → assemble → agg) over it. Hardware controls
(pure-CPU burn and a memory-bandwidth-bound numpy sweep) run between
blocks so every block has a same-window ceiling.

Writes BENCH/BASELINE.md and prints a JSON summary.

Usage: python jobs/scaling_bench.py [n_docs] [n_lo_cores] [runs_per_block] [blocks] [shm]
(pair = n_lo → 4·n_lo; defaults 128000 2 2 2)
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

PREP = r"""
import sys
sys.path.insert(0, ".")
import georip_spark
from georip_spark import synth
n_docs = int(sys.argv[1]); out = sys.argv[2]
spark = georip_spark.get_spark("scaling-prep", master="local[8]")
spark.sparkContext.setLogLevel("ERROR")
r = synth.synth_rasters(spark, n_docs)
r.repartition(64).write.mode("overwrite").parquet(out + "/rasters")
synth.synth_regions(spark, r, polys_per_doc=3).repartition(64).write.mode(
    "overwrite").parquet(out + "/regions")
n = spark.read.parquet(out + "/regions").count()
print(f"PREPOK {n}")
"""

WORKER = r"""
import json, os, sys, time
sys.path.insert(0, ".")
import georip_spark
from georip_spark import synth
from georip_spark.pipeline import build_dataset

cores = int(sys.argv[1])
inp = sys.argv[2]
n_docs = int(sys.argv[3])
n_runs = int(sys.argv[4])
n_regions = int(sys.argv[5])
shm = len(sys.argv) > 6 and sys.argv[6] == "shm"
pin = len(sys.argv) > 7 and sys.argv[7] == "pin"
conf = {"spark.sql.shuffle.partitions": str(4 * cores)}
if pin:
    # the parent wrapped us in `taskset -c 0..cores-1`; make the JVM's
    # ergonomics (GC/JIT/netty pool sizing) agree that this is an
    # N-core machine instead of sizing 23 GC threads for 32 CPUs that
    # all timeshare one pinned core
    # G1 on both sides: ergonomics would pick SerialGC at 1 active
    # processor and a parallel collector at 4+, a GC-policy
    # discontinuity that isn't the thing being measured
    conf["spark.driver.extraJavaOptions"] = (
        f"-XX:ActiveProcessorCount={cores} -XX:+UseG1GC")
    # heap scales with cores: a cluster of 4N executors has 4x the
    # aggregate heap of N executors (per-executor memory is fixed),
    # so the faithful proxy gives each task thread the same heap
    # share at both levels (4g/core) — a fixed 16g heap would starve
    # the hi side 4x on allocation headroom, inflating its GC
    # frequency for a reason no real cluster sees. +2g is the
    # driver's own bookkeeping, which exists once at any size.
    conf["spark.driver.memory"] = f"{2 + 4 * cores}g"
conf.update(json.loads(os.environ.get("SCALING_EXTRA_CONF", "{}")))
if shm:
    os.makedirs("/dev/shm/spark-local", exist_ok=True)
    conf["spark.local.dir"] = "/dev/shm/spark-local"
spark = georip_spark.get_spark(
    f"scaling-{cores}", master=f"local[{cores}]", extra_conf=conf,
)
spark.sparkContext.setLogLevel("ERROR")
bcast = n_regions <= 500_000   # the engine's dim-size rule, hoisted

def run():
    rasters = spark.read.parquet(inp + "/rasters")
    regions = spark.read.parquet(inp + "/regions")
    out = build_dataset(rasters, regions, broadcast_regions=bcast)
    t0 = time.time()
    r = out["docs_out"].selectExpr("count(*) c", "sum(size(spans)) s").collect()[0]
    return int(r["s"]), time.time() - t0

# warmup: python-worker fork/imports at small volume, then a
# quarter-size run (same plan shapes; enough volume for JIT) — the
# full-size warm of round 2 doubled every block's cost for no
# measured difference in the steady-state minimum
rw = synth.synth_rasters(spark, 1000)
gw = synth.synth_regions(spark, rw, polys_per_doc=3)
build_dataset(rw, gw, broadcast_regions=True)["docs_out"].selectExpr(
    "sum(size(spans))").collect()
q = max(1000, n_docs // 8)
rq = synth.synth_rasters(spark, q)
gq = synth.synth_regions(spark, rq, polys_per_doc=3)
build_dataset(rq, gq, broadcast_regions=q * 3 <= 500_000)["docs_out"].selectExpr(
    "sum(size(spans))").collect()
times, spans = [], 0
for _ in range(n_runs):
    spans, sec = run()
    times.append(sec)
print(json.dumps({"cores": cores, "n_docs": n_docs, "spans": spans,
                  "all_runs_sec": [round(t, 2) for t in times]}))
"""


def _repo_root() -> str:
    return os.path.dirname(os.path.dirname(os.path.abspath(__file__))) or "."


def prepare_inputs(n_docs: int, out_dir: str) -> int:
    out = subprocess.run(
        [sys.executable, "-c", PREP, str(n_docs), out_dir],
        capture_output=True, text=True, cwd=_repo_root(), timeout=3000,
    )
    line = [l for l in out.stdout.splitlines() if l.startswith("PREPOK")]
    if not line:
        raise RuntimeError(f"prep failed: {out.stderr[-2000:]}")
    return int(line[0].split()[1])


def run_block(cores: int, inp: str, n_docs: int, n_runs: int,
              n_regions: int, shm: bool, pin: bool = False) -> dict:
    """One fresh-JVM block at `cores` task threads.

    pin=True wraps the whole worker process tree in
    `taskset -c 0..cores-1` (+ -XX:ActiveProcessorCount inside): an
    unpinned local[N] JVM still runs its GC, JIT, netty and the
    kernel's writeback on all 32 physical cores, which gifts the LOW
    side free parallelism a real N-core executor never has and
    understates N→4N efficiency. Pinning is the faithful cluster
    proxy: "N cores" bounds everything the executor does.
    """
    cmd = [sys.executable, "-c", WORKER, str(cores), inp, str(n_docs),
           str(n_runs), str(n_regions), ("shm" if shm else "disk")]
    if pin:
        # SCALING_TASKSET overrides the pinned core list (one-off
        # experiments on cores a running campaign is not using)
        cpus = os.environ.get("SCALING_TASKSET",
                              f"0-{cores - 1}" if cores > 1 else "0")
        cmd = ["taskset", "-c", cpus, *cmd, "pin"]
    out = subprocess.run(
        cmd,
        capture_output=True, text=True, cwd=_repo_root(), timeout=9000,
    )
    lines = [l for l in out.stdout.strip().splitlines() if l.startswith("{")]
    if not lines:
        raise RuntimeError(f"worker failed: {out.stderr[-2000:]}")
    return json.loads(lines[-1])


def _jvmalloc(threads: int, seconds: float = 12.0) -> float:
    """Control #4: JVM allocation-churn scaling (JvmAllocControl.java).

    The three Python controls (ALU burn, streaming membw, random
    gather) all read ~0.9-1.0 in calm windows while the engine's
    per-stage profiles show +16-48% aggregate task CPU-time inflation
    at the hi level — so none of them bounds the engine's dominant
    access pattern: high-rate small-object allocation + minor-GC
    traffic from interpreted Catalyst expression eval inside one JVM.
    This control measures exactly that pattern under the same pinned
    proxy the engine workers use (taskset 0..N-1, ActiveProcessorCount,
    G1, heap 2+4N g). Returns ops/sec; the window ratio is the
    ceiling the VM imposes on ANY JVM-churn workload at N threads.
    """
    here = os.path.dirname(os.path.abspath(__file__))
    cmd = []
    if os.environ.get("SCALING_PIN", "") == "1":
        cmd += ["taskset", "-c", f"0-{threads - 1}" if threads > 1 else "0"]
    cmd += [
        "java", f"-XX:ActiveProcessorCount={threads}", "-XX:+UseG1GC",
        f"-Xmx{2 + 4 * threads}g",
        os.path.join(here, "JvmAllocControl.java"),
        str(threads), str(seconds),
    ]
    out = subprocess.run(cmd, capture_output=True, text=True, check=True,
                         timeout=600)
    return float(json.loads(out.stdout.strip().splitlines()[-1])
                 ["ops_per_sec"])


def _burn(seconds: float) -> int:
    import time as _t
    t0 = _t.time()
    x = 0
    while _t.time() - t0 < seconds:
        x += 1
    return x


def _membw(seconds: float) -> float:
    import time as _t

    import numpy as _np
    a = _np.ones(64 * 1024 * 1024 // 8)   # 64 MB >> LLC
    t0 = _t.time()
    n = 0
    while _t.time() - t0 < seconds:
        n += int(a.sum() > 0)
    return float(n)


def _randacc(seconds: float) -> float:
    """Random-gather over a 256 MB table — the latency-bound,
    prefetch-hostile access pattern of hash-join probes and shuffle
    hash maps, which the streaming `_membw` control does NOT
    reproduce (hardware prefetchers hide streaming latency; they
    cannot hide dependent random access, so this is the control that
    shares-the-LLC-and-TLB like the engine's join stages do)."""
    import time as _t

    import numpy as _np
    table = _np.arange(256 * 1024 * 1024 // 8, dtype=_np.int64)
    rng = _np.random.default_rng(0)
    idx = rng.integers(0, table.size, size=1 << 20)
    t0 = _t.time()
    n = 0
    while _t.time() - t0 < seconds:
        n += int(table[idx].sum() & 1) + 1
    return float(n)


def controls(n_lo: int, n_hi: int) -> dict:
    """Same-window hardware ceilings: pure-CPU, streaming
    memory-bandwidth, and random-access scaling from n_lo to n_hi
    processes."""
    import multiprocessing as mp
    out = {}
    for name, fn in (("cpu", _burn), ("membw", _membw),
                     ("randacc", _randacc)):
        thr = {}
        for procs in (n_lo, n_hi):
            with mp.Pool(procs) as p:
                thr[procs] = float(sum(p.map(fn, [2.0] * procs)))
        out[name] = round((thr[n_hi] / thr[n_lo]) / (n_hi / n_lo), 3)
    try:
        ja = {procs: _jvmalloc(procs) for procs in (n_lo, n_hi)}
        out["jvmalloc"] = round((ja[n_hi] / ja[n_lo]) / (n_hi / n_lo), 3)
    except Exception:
        out["jvmalloc"] = None
    return out


def main():
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 128000
    n_lo = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    runs_per_block = int(sys.argv[3]) if len(sys.argv) > 3 else 2
    blocks = int(sys.argv[4]) if len(sys.argv) > 4 else 2
    shm = "shm" in sys.argv[5:]
    pin = "pin" in sys.argv[5:]
    n_hi = 4 * n_lo

    import tempfile
    inp = tempfile.mkdtemp(prefix=f"scaling_inp_{n_docs}_")
    n_regions = prepare_inputs(n_docs, inp)
    print(json.dumps({"prep": inp, "n_regions": n_regions}))

    runs = {n_lo: [], n_hi: []}
    spans = 0
    ceilings = []
    for b in range(blocks):
        for cores in (n_lo, n_hi):
            r = run_block(cores, inp, n_docs, runs_per_block, n_regions,
                          shm, pin)
            runs[cores].extend(r["all_runs_sec"])
            spans = r["spans"]
            print(json.dumps({"block": b, **r}))
        c = controls(n_lo, n_hi)
        ceilings.append(c)
        print(json.dumps({"block": b, "ceilings": c}))

    import shutil
    shutil.rmtree(inp, ignore_errors=True)

    best_lo, best_hi = min(runs[n_lo]), min(runs[n_hi])
    med_lo = statistics.median(runs[n_lo])
    med_hi = statistics.median(runs[n_hi])
    eff = (best_lo / best_hi) / 4.0
    eff_med = (med_lo / med_hi) / 4.0
    cpu_ceil = max(c["cpu"] for c in ceilings)
    mem_ceil = max(c["membw"] for c in ceilings)
    summary = {
        "N_cores": n_lo, "4N_cores": n_hi, "n_docs": n_docs, "spans": spans,
        "throughput_N": round(spans / best_lo, 1),
        "throughput_4N": round(spans / best_hi, 1),
        "scaling_efficiency": round(eff, 3),
        "scaling_efficiency_median": round(eff_med, 3),
        "hw_ceiling_cpu": cpu_ceil, "hw_ceiling_membw": mem_ceil,
        "all_runs_N": runs[n_lo], "all_runs_4N": runs[n_hi],
        "ceilings_per_block": ceilings,
    }
    print(json.dumps(summary))

    os.makedirs("BENCH", exist_ok=True)
    section = f"""Sandbox proxy per driver instruction: same job, same byte-identical
stored input, two parallelism levels in fresh JVMs — INTERLEAVED in
blocks (N, 4N, N, 4N) so both levels sample the same VM window, with
pure-CPU and memory-bandwidth hardware controls between blocks.
Each timed run is the engine DAG over the stored table
(scan → tile → spatial-join → assemble → aggregate).

| config | docs | spans | best (s) | all runs (s) | spans/s (best) |
|---|---|---|---|---|---|
| local[{n_lo}] (N) | {n_docs} | {spans} | {best_lo} | {runs[n_lo]} | {summary['throughput_N']} |
| local[{n_hi}] (4N) | {n_docs} | {spans} | {best_hi} | {runs[n_hi]} | {summary['throughput_4N']} |

**Scaling efficiency (throughput_4N / throughput_N) / 4 =
{summary['scaling_efficiency']} (best-run); {summary['scaling_efficiency_median']} (median)**
(target ≥ 0.8 per north_rule).

**Same-window hardware controls** (per block: {ceilings}):
pure-CPU burn ceiling {cpu_ceil}, memory-bandwidth ceiling
{mem_ceil}. These bound what any software can achieve on this VM's
thread-count proxy; on a real cluster the N→4N comparison adds
machines (independent caches, memory buses, shuffle disks), which is
the regime the north_rule describes.

Measurement caveats, disclosed: this sandbox VM has noisy-neighbor
swings (identical cached jobs measured 27.2s and 62.7s an hour
apart); interleaving + min-of-many inside one window is the only
protocol that survives it. The engine's plans have no single-task
stages (REST stage profiling; the round-3 fix widened the
under-parallel fan-out guards to 4×parallelism after the stored-input
path resurfaced a one-wave stage).

Reproduce: `python jobs/scaling_bench.py {n_docs} {n_lo} {runs_per_block} {blocks}{" shm" if shm else ""}`
"""
    begin = "<!-- SCALING:BEGIN (auto-written by jobs/scaling_bench.py) -->"
    end = "<!-- SCALING:END -->"
    path = "BENCH/BASELINE.md"
    if os.path.exists(path):
        text = open(path).read()
    else:
        text = ("# BENCH/BASELINE — measured numbers\n\n"
                f"{begin}\n{end}\n")
    if begin in text and end in text:
        pre, rest = text.split(begin, 1)
        _, post = rest.split(end, 1)
        text = pre + begin + "\n" + section + end + post
    else:
        text += "\n" + begin + "\n" + section + end + "\n"
    with open(path, "w") as f:
        f.write(text)


if __name__ == "__main__":
    main()
