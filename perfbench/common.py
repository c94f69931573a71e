"""Run environment, Spark session and sink plumbing shared by workloads."""

from __future__ import annotations

import ctypes
import json
import os
import shutil
import signal
import subprocess
import time
import uuid

#: Spark resources, fixed so every run sees the same machine share.
CPUS = str(len(os.sched_getaffinity(0)))
DRIVER_MEM = "1g"

PIPELINES_YAML = os.path.join("pipelines", "pipelines.yaml")
SINK_TOKEN = "perfbench-token"

#: prctl option that makes a process the parent of its orphaned descendants
PR_SET_CHILD_SUBREAPER = 36
#: seconds the JVM and its workers get to exit before they are killed
STOP_GRACE_S = 30.0


class RunDir:
    """A fresh directory under the checkout for one run's targets, sync
    state, inputs, Spark scratch and temp files; removed on exit."""

    def __init__(self, root: str):
        self.path = os.path.join(os.path.abspath(root), f"run-{os.getpid()}-{uuid.uuid4().hex[:8]}")

    def __enter__(self) -> RunDir:
        os.makedirs(self.sub("tmp"))
        os.makedirs(self.sub("spark-local"))
        os.environ["SPARK_GRAFT_CPUS"] = CPUS
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
        os.environ["SPARK_LOCAL_DIRS"] = self.sub("spark-local")
        os.environ["TMPDIR"] = self.sub("tmp")
        # every JVM the launch starts keeps its temp files in the run too
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={self.sub('tmp')}"
        return self

    def __exit__(self, *exc):
        shutil.rmtree(self.path, ignore_errors=True)

    def sub(self, *parts: str) -> str:
        return os.path.join(self.path, *parts)


def start_spark(run: RunDir):
    """The engine's session (``session.get_spark``) with this run's
    scratch and temp directories, a driver heap fixed at ``DRIVER_MEM``
    and enough retained job/stage history for the tracer."""
    from bw_new_data_integration_spark.session import get_spark

    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": run.sub("spark-local"),
            # a fixed heap: G1 otherwise grows it by the time spent in GC,
            # which made peak PSS swing by a fifth between runs of one seed
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_MEM}",
            "spark.sql.warehouse.dir": run.sub("warehouse"),
            "spark.ui.retainedJobs": "10000",
            "spark.ui.retainedStages": "20000",
            "spark.sql.ui.retainedExecutions": "100",
        },
    )


def process_tree(root: int) -> list[int]:
    """``root`` and every live process below it, from ``/proc``."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(name))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, ()))
    return out


def adopt_orphans() -> None:
    """Make this process the parent of any descendant whose own parent
    ends first (a Python worker of the JVM), so ``stop_spark`` can wait
    for it."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def stop_spark() -> None:
    """Stop the Spark session, end the JVM that pyspark launched and wait
    until it and every other process this run started have exited.

    ``spark.stop()`` alone leaves the gateway JVM running until it reads
    EOF on its stdin, which pyspark only gives it when the interpreter
    exits. Here stdin is closed at once and the JVM is waited for; any
    descendant still alive after ``STOP_GRACE_S`` is killed. Safe to call
    when no session or gateway was ever started."""
    from pyspark import SparkContext

    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # a second SIGTERM must not cut the stop short
    try:
        if SparkContext._active_spark_context is not None:
            SparkContext._active_spark_context.stop()
    finally:
        gateway, SparkContext._gateway, SparkContext._jvm = SparkContext._gateway, None, None
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            try:
                gateway.shutdown()
            except Exception:  # noqa: BLE001 - the JVM is ended below either way
                pass
        if proc is not None:
            if proc.stdin is not None:
                proc.stdin.close()  # the gateway exits on EOF
            try:
                proc.wait(STOP_GRACE_S)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        _reap_descendants()


def _reap_descendants() -> None:
    """Wait until this process has no child left; as a subreaper it is
    then the last of its tree. Kills what outlives the grace period."""
    deadline = time.monotonic() + STOP_GRACE_S
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        if time.monotonic() > deadline:
            for p in process_tree(os.getpid())[1:]:
                try:
                    os.kill(p, signal.SIGKILL)
                except ProcessLookupError:
                    pass
        time.sleep(0.05)


def sink_factory(url: str, table: str, key: str):
    """``transport_factory`` for ``sync_to_rest``: the engine's own
    ``$batch`` transport, built executor-side, against the fake sink."""

    def factory():
        from bw_new_data_integration_spark.sources.credentials import TokenProvider
        from bw_new_data_integration_spark.sources.http_transport import (
            HttpClient,
            ODataBatchTransport,
        )

        return ODataBatchTransport(
            HttpClient(url, timeout=120.0), table, TokenProvider(fetch=lambda: SINK_TOKEN), key
        )

    return factory


def commit_counts(table, version: int) -> dict:
    """Files and bytes a commit wrote vs carried forward by hard link,
    from its manifest."""
    files = (table.manifest(version) or {}).get("files", [])
    new = [f for f in files if not f.get("linked")]
    return {
        "files_written": len(new),
        "files_linked": len(files) - len(new),
        "bytes_written": sum(f.get("bytes", 0) for f in new),
    }


def sink_form(rows, key_col: str) -> dict[str, dict]:
    """Rows as the sink stores them after a push: nulls pruned, values
    through the same JSON encoding the transport uses, keyed by the
    alternate key."""
    out = {}
    for r in rows:
        rec = {k: v for k, v in r.asDict().items() if v is not None}
        out[str(rec[key_col])] = json.loads(json.dumps(rec, default=str))
    return out


def diff_example(want: dict, got: dict) -> str:
    """One differing key of two keyed record maps, for a failure note."""
    only = len(set(want) ^ set(got))
    for k in sorted(set(want) | set(got)):
        a, b = want.get(k), got.get(k)
        if a != b:
            if a is None or b is None:
                return f"{only} keys on one side only, e.g. {k} (want {a is not None}, got {b is not None})"
            fields = {f: (a.get(f), b.get(f)) for f in set(a) | set(b) if a.get(f) != b.get(f)}
            return f"{only} keys on one side only; {k} differs in {fields}"[:400]
    return "no difference"
