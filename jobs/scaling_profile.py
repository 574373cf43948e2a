"""Per-stage scaling diagnosis for the N→4N efficiency gap (round 4).

Window-0 campaign data fits lo = W/2 + F, hi = W/8 + F with F ≈ 80 s
at n=256k and F ≈ 40 s at n=128k — the non-scaling term grows with
DATA, which indicts stages whose width is data-sized instead of
core-sized (e.g. AQE-coalesced shuffle reads targeting 64 MB
partitions: 8 shuffle partitions at local[2] and 32 at local[8] both
coalesce to the same handful, so those stages run at the same speed
at both levels).

Runs build_dataset at two core counts with the Spark UI enabled,
scrapes /api/v1 stage metrics after the timed run, and prints each
stage's (numTasks, wall seconds) at both levels with the lo/hi
speedup — stages with speedup ≈ 1 are the culprits.

Usage: python jobs/scaling_profile.py [n_docs] [lo] [hi]
Env: PROFILE_INP reuses a prepared input dir.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ".")

from scaling_bench import prepare_inputs  # noqa: E402

WORKER = r"""
import json, os, sys, time, urllib.request
from datetime import datetime, timezone
sys.path.insert(0, ".")
import georip_spark
from georip_spark import synth
from georip_spark.pipeline import build_dataset

def ts(s):
    return datetime.strptime(s.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()

cores = int(sys.argv[1]); inp = sys.argv[2]; n_regions = int(sys.argv[3])
pin = len(sys.argv) > 4 and sys.argv[4] == "pin"
conf = {"spark.sql.shuffle.partitions": str(4 * cores),
        "spark.ui.enabled": "true"}
conf.update(json.loads(os.environ.get("PROFILE_EXTRA_CONF", "{}")))
if pin:
    conf["spark.driver.extraJavaOptions"] = (
        f"-XX:ActiveProcessorCount={cores} -XX:+UseG1GC")
    conf["spark.driver.memory"] = f"{2 + 4 * cores}g"  # heap ∝ cores
spark = georip_spark.get_spark(
    f"prof-{cores}", master=f"local[{cores}]", extra_conf=conf,
)
spark.sparkContext.setLogLevel("ERROR")
rw = synth.synth_rasters(spark, 1000)
gw = synth.synth_regions(spark, rw, polys_per_doc=3)
build_dataset(rw, gw, broadcast_regions=True)["docs_out"].selectExpr(
    "sum(size(spans))").collect()

ui = spark.sparkContext.uiWebUrl
app = spark.sparkContext.applicationId
def stages():
    with urllib.request.urlopen(
            f"{ui}/api/v1/applications/{app}/stages?status=complete") as r:
        return json.load(r)
seen = {s["stageId"] for s in stages()}

rasters = spark.read.parquet(inp + "/rasters")
regions = spark.read.parquet(inp + "/regions")
out = build_dataset(rasters, regions, broadcast_regions=n_regions <= 500_000)
t0 = time.time()
r = out["docs_out"].selectExpr("count(*) c", "sum(size(spans)) s").collect()[0]
wall = time.time() - t0

rows = []
for s in sorted(stages(), key=lambda s: s["stageId"]):
    if s["stageId"] in seen or "submissionTime" not in s:
        continue
    rows.append({
        "stage": s["stageId"],
        "name": s["name"].split("\n")[0][:60],
        "tasks": s["numTasks"],
        "run_s": round(s["executorRunTime"] / 1000.0, 2),
        "cpu_s": round(s.get("executorCpuTime", 0) / 1e9, 2),
        "gc_s": round(s.get("jvmGcTime", 0) / 1000.0, 2),
        "shw_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
        "wall_s": round(ts(s["completionTime"]) - ts(s["submissionTime"]), 2),
    })
print("PROF " + json.dumps({"cores": cores, "wall": round(wall, 2),
                            "stages": rows}))
"""


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 else 32000
    lo = int(sys.argv[2]) if len(sys.argv) > 2 else 2
    hi = int(sys.argv[3]) if len(sys.argv) > 3 else 8

    inp = os.environ.get("PROFILE_INP", "")
    if not (inp and os.path.exists(inp + "/regions/_SUCCESS")):
        inp = tempfile.mkdtemp(prefix=f"scaling_prof_{n_docs}_")
        prepare_inputs(n_docs, inp)
    n_regions = 3 * n_docs
    # same override as the campaign: profile the join regime the
    # record config measures (shuffle-hash), not the broadcast path
    # a 192k dim would otherwise take at small n
    forced = int(os.environ.get("SCALING_FORCE_REGIONS", "0"))
    if forced:
        n_regions = forced

    pin = "pin" in sys.argv[4:] or os.environ.get("SCALING_PIN") == "1"
    results = {}
    for cores in (hi, lo):
        cmd = [sys.executable, "-c", WORKER, str(cores), inp,
               str(n_regions)]
        if pin:
            cmd = ["taskset", "-c",
                   f"0-{cores - 1}" if cores > 1 else "0", *cmd, "pin"]
        out = subprocess.run(
            cmd,
            capture_output=True, text=True, cwd=".", timeout=6000,
        )
        line = [l for l in out.stdout.splitlines() if l.startswith("PROF ")]
        if not line:
            print(out.stderr[-3000:])
            raise SystemExit(1)
        results[cores] = json.loads(line[0][5:])
        print(json.dumps({"cores": cores, "wall": results[cores]["wall"]}),
              flush=True)

    los = results[lo]["stages"]
    his = results[hi]["stages"]
    print(f"\n{'stage(name)':44} {'tasks lo/hi':>11} {'lo_s':>7} {'hi_s':>7} "
          f"{'spd':>4} {'cpu/run lo':>10} {'hi':>5} {'gc lo/hi':>9} {'shw_mb':>7}")
    if [s["name"] for s in los] != [s["name"] for s in his]:
        print("!! stage-name sequences differ between levels — full "
              "per-side dumps below instead of positional pairing")
        for label, side in (("lo", los), ("hi", his)):
            print(f"-- {label} stages --")
            for s in side:
                cr = round(s["cpu_s"] / s["run_s"], 2) if s["run_s"] > 0.01 else 0
                print(f"  {s['stage']:>4} {s['name'][:52]:52} t={s['tasks']:<4} "
                      f"wall={s['wall_s']:>7} run={s['run_s']:>7} "
                      f"cpu/run={cr:>5} gc={s['gc_s']:>5} shw={s['shw_mb']:>7}MB")
    else:
        for a, b in zip(los, his):
            spd = round(a["wall_s"] / b["wall_s"], 1) if b["wall_s"] > 0.01 else float("inf")
            cr_lo = round(a["cpu_s"] / a["run_s"], 2) if a["run_s"] > 0.01 else 0
            cr_hi = round(b["cpu_s"] / b["run_s"], 2) if b["run_s"] > 0.01 else 0
            flag = "  <== NON-SCALING" if (a["wall_s"] > 2 and spd < 2.0) else ""
            print(f"{b['name'][:44]:44} {a['tasks']:>4}/{b['tasks']:<5} "
                  f"{a['wall_s']:>7} {b['wall_s']:>7} {spd:>4} {cr_lo:>10} {cr_hi:>5} "
                  f"{a['gc_s']:>4}/{b['gc_s']:<4} {b['shw_mb']:>7}{flag}")
    lo_sum = round(sum(s["wall_s"] for s in los), 1)
    hi_sum = round(sum(s["wall_s"] for s in his), 1)
    print(json.dumps({"input": inp, "lo_stage_wall_sum": lo_sum,
                      "hi_stage_wall_sum": hi_sum,
                      "lo_wall": results[lo]["wall"],
                      "hi_wall": results[hi]["wall"]}))


if __name__ == "__main__":
    main()
