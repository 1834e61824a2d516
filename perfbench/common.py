"""Harness shared by the workloads: the pinned daemon environment, the
run directory, daemon launch and SIGTERM teardown, the host record and
the process-tree memory reading."""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
RUN_ROOT = os.path.join(ROOT, ".perfbench_run")
E2E_UNITS = {
    "setup_s": "s",
    "throughput_per_s": "1/s",
    "latency_p50_s": "s",
    "latency_p90_s": "s",
    "peak_rss_mb": "MB",
}
LAUNCHER = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                        "trace_launcher.py")


class BenchError(RuntimeError):
    """The system under test did not reach a state the workload waits
    for (no delivery, a daemon that died). The run reports it as a
    failed, incorrect run instead of a metric."""


class Budget:
    """Wall-clock budget of one workload run. Every wait for the system
    under test ends when it runs out, so a stuck run still tears down
    before the benchmark's own time limit."""

    def __init__(self, end: float) -> None:
        self.end = end  # a time.monotonic() instant

    def wait(self, pred, what: str):
        """Poll `pred` until it returns a truthy value."""
        while True:
            v = pred()
            if v:
                return v
            if time.monotonic() >= self.end:
                raise BenchError(f"run budget spent waiting for {what}")
            time.sleep(0.02)


class RunDir:
    """Private per-run directory inside the checkout, removed at exit.
    Spark's local dirs, temp files and checkpoints are pointed here so
    a run leaves nothing behind."""

    def __init__(self, workload: str) -> None:
        os.makedirs(RUN_ROOT, exist_ok=True)
        self.path = tempfile.mkdtemp(prefix=f"{workload}-", dir=RUN_ROOT)
        os.chmod(self.path, 0o755)  # a demoted Postgres server may live here
        self.tmp = self.sub("tmp")

    def sub(self, name: str) -> str:
        p = os.path.join(self.path, name)
        os.makedirs(p, exist_ok=True)
        return p

    def remove(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
        try:
            os.rmdir(RUN_ROOT)  # only when no other run is using it
        except OSError:
            pass


def daemon_env(run: RunDir) -> dict[str, str]:
    """Environment of the system under test: `pinned_env`, the repo
    root on PYTHONPATH so Python workers can import the engine's UDF
    modules, and Spark's and the JVM's scratch space in the run dir."""
    env = dict(os.environ, **pinned_env())
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, env.get("PYTHONPATH", "")) if p)
    env["SPARK_GRAFT_LOCAL_DIR"] = run.sub("spark-local")
    env["TMPDIR"] = run.tmp
    env["SPARK_SUBMIT_OPTS"] = (
        env.get("SPARK_SUBMIT_OPTS", "") + " " + jvm_opts(run.tmp)).strip()
    return env


def jvm_opts(tmp: str) -> str:
    """Driver JVM flags. The whole heap is committed and touched at
    start, so VmHWM does not follow G1's run-to-run heap sizing; JVM
    temp files go to the run dir, and no hsperfdata file to /tmp."""
    mem = os.environ["SPARK_GRAFT_DRIVER_MEM"]
    return (f"-Xms{mem} -XX:+AlwaysPreTouch -Djava.io.tmpdir={tmp} "
            "-XX:-UsePerfData")


def pinned_env() -> dict[str, str]:
    """SPARK_GRAFT_CPUS leaves one of the CPUs this process may use to
    the daemon's Python driver, the JIT and GC threads and the load
    generator. With every CPU given to Spark's task slots, a 4-CPU host
    is oversubscribed and open-loop latency spread 13-21 % between
    identical runs instead of about 5 %."""
    return {
        "SPARK_GRAFT_CPUS": str(max(1, len(os.sched_getaffinity(0)) - 1)),
        "SPARK_GRAFT_DRIVER_MEM": os.environ.get("SPARK_GRAFT_DRIVER_MEM", ""),
    }


class Daemon:
    """`python -m pqstream_spark ARGV` in its own session, or, traced,
    the benchmark's launcher calling the same `main(argv)`."""

    def __init__(self, run: RunDir, argv: list[str], traced: bool):
        self.log_path = os.path.join(run.path, "daemon.log")
        self._log = open(self.log_path, "w")
        self.spans_path = os.path.join(run.path, "spans.json") if traced else None
        if traced:
            cmd = [sys.executable, LAUNCHER, "--spans", self.spans_path, "--",
                   *argv]
        else:
            cmd = [sys.executable, "-m", "pqstream_spark", *argv]
        self.launched_at = time.time()
        self.proc = subprocess.Popen(
            cmd, cwd=run.path, env=daemon_env(run), stdin=subprocess.DEVNULL,
            stdout=self._log, stderr=subprocess.STDOUT, start_new_session=True,
        )

    def log(self) -> str:
        with open(self.log_path, errors="replace") as f:
            return f.read()

    def wait_for_log(self, needle: str, budget: Budget) -> str:
        """The first log line containing `needle`."""

        def find():
            if self.proc.poll() is not None:
                raise BenchError(f"daemon exited rc={self.proc.returncode}:\n"
                                 + self.log()[-3000:])
            for line in self.log().splitlines():
                if needle in line:
                    return line
            return None

        return budget.wait(find, f"daemon log line {needle!r}")

    def alive(self) -> None:
        if self.proc.poll() is not None:
            raise BenchError(f"daemon exited rc={self.proc.returncode}:\n"
                             + self.log()[-3000:])

    def spans(self) -> list[dict] | None:
        """The traced launcher's spans, once the daemon has exited."""
        try:
            with open(self.spans_path) as f:
                return json.load(f)
        except (OSError, ValueError) as e:
            log(f"traced daemon wrote no spans: {e}")
            return None

    def tree_pids(self) -> list[int]:
        return process_tree(self.proc.pid)

    def stop(self, timeout: float = 15.0) -> int | None:
        """SIGTERM, the daemon's graceful drain. SIGINT is not used:
        SparkContext replaces the daemon's SIGINT handler with one that
        raises KeyboardInterrupt, which skips the drain. Whatever
        survives in the process group afterwards (the JVM, Python
        workers) is killed, so nothing outlives the run."""
        rc = None
        if self.proc.poll() is None:
            self.proc.send_signal(signal.SIGTERM)
            try:
                rc = self.proc.wait(timeout)
            except subprocess.TimeoutExpired:
                rc = None
        else:
            rc = self.proc.returncode
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        if self.proc.poll() is None:
            self.proc.wait(10)
        end = time.monotonic() + 20
        while _group_alive(self.proc.pid) and time.monotonic() < end:
            time.sleep(0.05)
        self._log.close()
        return rc


def _group_alive(pgid: int) -> bool:
    for pid in _pids():
        try:
            if os.getpgid(pid) == pgid:
                return True
        except OSError:
            continue
    return False


def _pids() -> list[int]:
    return [int(d) for d in os.listdir("/proc") if d.isdigit()]


def _ppid(pid: int) -> int | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            stat = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return int(stat[stat.rindex(")") + 2:].split()[1])


def process_tree(root: int) -> list[int]:
    children: dict[int, list[int]] = {}
    for pid in _pids():
        pp = _ppid(pid)
        if pp is not None:
            children.setdefault(pp, []).append(pid)
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def peak_rss_mb(pids: list[int]) -> float:
    """Kernel VmHWM (peak resident set) summed over `pids`, in MB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0


def steal_seconds() -> float:
    """Host-wide CPU steal time so far, from /proc/stat."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / os.sysconf("SC_CLK_TCK")


def canary_s() -> float:
    """A fixed engine-free workload (hashing plus an interpreted loop);
    its time moves only with the host."""
    t = time.perf_counter()
    block = b"perfbench" * 100_000
    h = hashlib.sha256()
    for _ in range(40):
        h.update(block)
    acc = 0
    for i in range(1_000_000):
        acc = (acc + i * i) % 1_000_003
    return time.perf_counter() - t


class HostRecord:
    """Steal seconds and the canary, at run start and end. Printed
    beside the metrics and never gated: it tells host drift apart
    from a change in the program."""

    def __init__(self) -> None:
        self.canary_start_s = canary_s()
        self._steal0 = steal_seconds()
        self._t0 = time.monotonic()

    def finish(self) -> dict:
        return {
            "canary_start_s": round(self.canary_start_s, 4),
            "canary_end_s": round(canary_s(), 4),
            "steal_s": round(steal_seconds() - self._steal0, 2),
            "wall_s": round(time.monotonic() - self._t0, 2),
            "env": pinned_env(),
        }


_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - _T0:7.2f}s] {msg}", file=sys.stderr,
          flush=True)
