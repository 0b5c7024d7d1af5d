#!/usr/bin/env python3
"""Benchmark entry point: build, run one workload.

    python3 perfbench/run.py --workload warehouse --seed 1 --seconds 14 --trace 0
    python3 perfbench/run.py --workload all        # every workload, one table
    python3 perfbench/run.py --smoke               # self-check on tiny data

Builds the engine and the benchmark from source (sbt, in perfbench/), then
runs the benchmark JVM at local[<cores>] over the tables in perfbench/data
and prints its report. The last line of standard output is one JSON object:
correct, attempted, failed, metrics. With --trace 0 the metrics are the
end-to-end ones, with --trace 1 the per-layer ones. See perfbench/BENCH.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
ENGINE_SRC = ROOT / "src" / "main" / "scala"
BUILD = BENCH / ".build"
DATA = BENCH / "data"
WORK = BENCH / ".work"
SCALE = "0.01"        # data scale of the timed runs
WORKLOADS = ["warehouse", "ingest"]
SMOKE_SCALE = "0.001"
SETUPS = 2            # set-up rounds per run; setup_s is their median
RUN_TIMEOUT_S = 170   # one JVM run, build excluded
JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
END_TO_END = {"setup_s": "s", "ops_per_s": "op/s", "op_p50_s": "s",
              "op_p90_s": "s"}


def die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_home() -> Path:
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = str(Path(shutil.which("spark-submit")).resolve().parent.parent)
    if not home or not (Path(home) / "jars").is_dir():
        die("no Spark install found (set SPARK_HOME)")
    return Path(home)


def sources_stamp() -> str:
    h = hashlib.sha256()
    files = sorted(list(ENGINE_SRC.rglob("*.scala")) +
                   list((BENCH / "src").rglob("*.scala")) +
                   [BENCH / "build.sbt", BENCH / "project" / "build.properties"])
    for f in files:
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    return h.hexdigest()


def build() -> str:
    """Compile engine + benchmark once per source state; return classpath."""
    if not (ENGINE_SRC / "graft").is_dir():
        die(f"engine sources missing under {ENGINE_SRC}")
    stamp = sources_stamp()
    cp_file, stamp_file = BUILD / "classpath.txt", BUILD / "stamp"
    if cp_file.exists() and stamp_file.exists() and \
            stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    sbt = shutil.which("sbt")
    if not sbt:
        die("sbt not found on PATH")
    env = dict(os.environ, SPARK_HOME=str(spark_home()),
               COURSIER_MODE=os.environ.get("COURSIER_MODE", "offline"))
    t0 = time.time()
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=850)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        die("build failed")
    lines = [ln for ln in proc.stdout.splitlines()
             if ln and not ln.startswith("[") and os.pathsep in ln]
    if not lines:
        die("build printed no classpath")
    BUILD.mkdir(exist_ok=True)
    cp_file.write_text(lines[-1])
    stamp_file.write_text(stamp)
    print(f"perfbench: built in {time.time() - t0:.0f}s", file=sys.stderr)
    return lines[-1]


def data_dir(scale: str) -> Path:
    out = DATA / f"sf{scale}"
    if not (out / "lineitem.parquet").is_file():
        die(f"input tables missing under {out}")
    return out


def java_cmd(cp: str, work: Path) -> list:
    """The JVM command line up to the main class; scratch under `work`."""
    java = shutil.which("java")
    if os.environ.get("JAVA_HOME"):
        java = str(Path(os.environ["JAVA_HOME"]) / "bin" / "java")
    cmd = [java, "-Xmx3g", "-Djava.awt.headless=true",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}"]
    for p in JVM_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", cp]


def run_jvm(cp: str, workload: str, seed: int, seconds: float, trace: int,
            scale: str, extra: list) -> tuple:
    """Run one workload in its own JVM; return (report lines, result)."""
    work = WORK / f"{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    cores = len(os.sched_getaffinity(0))
    cmd = java_cmd(cp, work) + [
        "perfbench.Main", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--data", str(data_dir(scale)),
        "--digests", str(BENCH / "digests" / f"sf{scale}.json"),
        "--work", str(work), "--cores", str(cores)] + extra
    proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, text=True,
                            start_new_session=True, cwd=work)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"{workload} run exceeded {RUN_TIMEOUT_S}s")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        for spans in work.glob("spans-*.jsonl"):  # traced runs keep spans
            spans.replace(WORK / spans.name)
        shutil.rmtree(work, ignore_errors=True)
    lines = out.splitlines()
    if proc.returncode != 0 or not lines:
        sys.stderr.write(out[-4000:])
        die(f"{workload} run failed (exit {proc.returncode})")
    try:
        result = json.loads(lines[-1])
    except json.JSONDecodeError:
        sys.stderr.write(out[-4000:])
        die(f"{workload} run printed no result line")
    return lines[:-1], result


def run_all(cp: str, args) -> None:
    """Every workload in turn; one table, then one JSON line."""
    rows, merged = [], {"correct": True, "attempted": 0, "failed": 0,
                        "metrics": {}}
    for w in WORKLOADS:
        report, res = run_jvm(cp, w, args.seed, args.seconds, args.trace,
                              SCALE, ["--setups", str(SETUPS)])
        print("\n".join(report))
        merged["correct"] &= res["correct"]
        merged["attempted"] += res["attempted"]
        merged["failed"] += res["failed"]
        for k, v in res["metrics"].items():
            merged["metrics"][f"{w}.{k}"] = v
        rows.append((w, res))
    print("\nworkload          " + " ".join(f"{k:>14}" for k in END_TO_END))
    for w, res in rows:
        m = res["metrics"]
        print(f"{w:<17} " + " ".join(
            f"{m[k]['value']:>14.4f}" if k in m else f"{'-':>14}"
            for k in END_TO_END))
    print(json.dumps(merged))


def smoke(cp: str) -> int:
    """Self-check on tiny data; prints each check and exits non-zero on any
    failure."""
    problems = []
    layer_names = None
    for w in WORKLOADS:
        for trace in (0, 1):
            report, res = run_jvm(cp, w, 1, 1, trace, SMOKE_SCALE,
                                  ["--setups", "1"])
            m = res["metrics"]
            if not res["correct"]:
                problems.append(f"{w} trace={trace}: failures " +
                                "; ".join(l for l in report if "FAILED" in l))
            if trace == 0:
                want = END_TO_END
                if w == "ingest" and not any(
                        l.startswith("space_amp ") for l in report):
                    problems.append("ingest: no space_amp line")
            else:
                want = {k: v["unit"] for k, v in m.items()}
                layer_names = layer_names or set(want)
                if set(want) != layer_names:
                    problems.append(f"{w}: per-layer names differ")
                # the layers with no work on this workload must read zero
                flat = [k for k in m if w == "warehouse" and
                        k.startswith(("persist.", "stream."))]
                nonzero = [k for k in flat if m[k]["value"] != 0]
                if nonzero:
                    problems.append(f"{w}: flat layers not zero: {nonzero}")
                elif flat:
                    print(f"smoke {w}: {len(flat)} flat-layer metrics read 0")
            for name, unit in want.items():
                if m.get(name, {}).get("unit") != unit or \
                        not any(l.startswith(f"metric {name} ")
                                for l in report):
                    problems.append(f"{w} trace={trace}: {name} [{unit}] "
                                    "not printed")
            print(f"smoke {w} trace={trace}: {len(m)} metrics, "
                  f"{res['attempted']} ops, {res['failed']} failed")
    report, res = run_jvm(cp, "warehouse", 1, 1, 0, SMOKE_SCALE,
                          ["--setups", "1", "--corrupt", "q_a4_stats"])
    named = any("FAILED q_a4_stats" in l for l in report)
    if res["correct"] or res["failed"] < 1 or not named:
        problems.append("corrupted digest did not turn into a named failure")
    else:
        print(f"smoke corrupt digest: {res['failed']} failures, named")
    for p in problems:
        print(f"SMOKE FAIL {p}")
    print("smoke: PASS" if not problems else "smoke: FAIL")
    return 1 if problems else 0


def pin(cp: str) -> int:
    """Record each workload's catalog digests at both scales; a digest that
    differs between passes is reported and left unpinned."""
    unstable = False
    for scale in (SCALE, SMOKE_SCALE):
        for w in WORKLOADS:
            report, _ = run_jvm(cp, w, 1, 1, 0, scale,
                                ["--setups", "1", "--pin", "1"])
            print("\n".join(l for l in report
                            if l.startswith(("pinned", "  UNSTABLE"))))
            unstable |= any("UNSTABLE" in l for l in report)
    return 1 if unstable else 0


def oracle(cp: str) -> int:
    """Cross-check the pinned digests against the DuckDB oracle: dump each
    pinned operation's result with graft.Verify, compare the dumps with
    DuckDB (tools/check_oracle.py), then digest the dumps."""
    pins = BENCH / "digests" / f"sf{SCALE}.json"
    ops = sorted(json.loads(pins.read_text()))
    work = WORK / "oracle"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    data, dumps = data_dir(SCALE), work / "dumps"
    subprocess.run(java_cmd(cp, work) + ["graft.Verify", str(data),
                   str(dumps), ",".join(ops)], cwd=work, check=True)
    duck = subprocess.run(
        [sys.executable, str(ROOT / "tools" / "check_oracle.py"), str(data),
         str(dumps)], env=dict(os.environ, ORACLE_ONLY_PRESENT="1"))
    digests = subprocess.run(java_cmd(cp, work) + [
        "perfbench.Main", "--workload", "warehouse", "--data", str(data),
        "--digests", str(pins), "--work", str(work),
        "--check-dumps", str(dumps)], cwd=work)
    return duck.returncode or digests.returncode


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=14)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--oracle", action="store_true",
                    help="cross-check the pinned digests with DuckDB")
    ap.add_argument("--pin", action="store_true",
                    help="record every workload's digests, at the timed and "
                    "the smoke scale, as the pinned ones")
    args = ap.parse_args()
    cp = build()
    if args.smoke:
        sys.exit(smoke(cp))
    if args.oracle:
        sys.exit(oracle(cp))
    if args.pin:
        sys.exit(pin(cp))
    if not args.workload:
        ap.error("--workload is required")
    if args.workload == "all":
        run_all(cp, args)
        return
    report, res = run_jvm(cp, args.workload, args.seed, args.seconds,
                          args.trace, SCALE, ["--setups", str(SETUPS)])
    print("\n".join(report))
    print(json.dumps(res))


if __name__ == "__main__":
    main()
