#!/usr/bin/env python3
"""Run one benchmark workload and print its result as the last stdout line.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The first run builds the engine and the
harness with sbt (perfbench/build.sbt) and caches the classpath under
perfbench/.build; later runs rebuild only when a source file changed. The
harness runs in one JVM on local[nproc] and prints a `RESULT {...}` line,
which this script checks against BENCHMARK.json and re-prints last.

    python3 perfbench/run.py --record

re-records the query output digests in perfbench/expected/queries.json.
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
BUILD = BENCH / ".build"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def source_files():
    """Every file the build reads, relative to the checkout root."""
    roots = [ROOT / "src" / "main", BENCH / "src" / "main"]
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += [p for p in r.rglob("*") if p.is_file()]
    return sorted(files)


def stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(b"\0")
        h.update(p.read_bytes())
        h.update(b"\0")
    return h.hexdigest()


def sbt_env(tmp):
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Xmx2g", "-Dsbt.offline=true"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # keep the build's scratch files inside the checkout
    env["SBT_OPTS"] += f" -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    return env


def run_child(cmd, cwd, timeout, env=None, capture=True):
    """Runs cmd in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, cwd=cwd, env=env, start_new_session=True,
                         stdout=subprocess.PIPE if capture else None, text=True)
    try:
        out, _ = p.communicate(timeout=timeout)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return None, None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def build():
    """Compiles if a source changed; returns the runtime classpath."""
    if not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        fail("engine sources (src/main/scala/graft) not found; run from the root of a checkout", 2)
    want = stamp()
    cp_file, stamp_file = BUILD / "classpath", BUILD / "stamp"
    if cp_file.is_file() and stamp_file.is_file() and stamp_file.read_text() == want:
        return cp_file.read_text().strip()
    t0 = time.time()
    tmp = BENCH / ".tmp"
    tmp.mkdir(exist_ok=True)
    try:
        rc, out = run_child(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                             "export Runtime/fullClasspath"], BENCH, BUILD_TIMEOUT_S, env=sbt_env(tmp))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if rc != 0:
        sys.stderr.write(out or "")
        fail(f"build failed (rc={rc})")
    classes = str(BENCH / "target")
    cp = [line for line in out.splitlines() if line.startswith(classes) and ".jar" in line]
    if not cp:
        sys.stderr.write(out)
        fail("build printed no classpath")
    BUILD.mkdir(exist_ok=True)
    cp_file.write_text(cp[-1])
    stamp_file.write_text(want)
    print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)
    return cp[-1]


def heap():
    """Half the machine's memory, clamped to 2-6 GB."""
    try:
        kb = next(int(line.split()[1]) for line in open("/proc/meminfo") if line.startswith("MemTotal:"))
        gb = max(2, min(6, kb // (2 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gb = 3
    return f"{gb}g"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", action="store_true")
    a = ap.parse_args()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    names = [w["name"] for w in spec["workloads"]]
    if not a.record and a.workload not in names:
        fail(f"--workload must be one of {names}", 2)

    cp = build()
    tmp = BENCH / ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    tmp.mkdir()
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={BENCH / 'log4j2.properties'}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main", "--home", str(BENCH)]
    if a.record:
        cmd += ["--record"]
    else:
        cmd += ["--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace)]
    try:
        rc, out = run_child(cmd, ROOT, RUN_TIMEOUT_S)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    if rc is None:
        fail(f"run exceeded {RUN_TIMEOUT_S} s and was stopped")
    if rc != 0:
        sys.stderr.write(out or "")
        fail(f"run failed (rc={rc})")
    if a.record:
        return
    lines = [line[len("RESULT "):] for line in out.splitlines() if line.startswith("RESULT ")]
    if not lines:
        sys.stderr.write(out)
        fail("run printed no result")
    result = json.loads(lines[-1])
    want = {m["name"]: m["unit"] for m in spec["per_layer" if a.trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        fail(f"metrics {sorted(got.items())} do not match BENCHMARK.json {sorted(want.items())}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
