"""Shared Spark fixture for the test suite.

One session-scoped local session keeps the suite fast (~JVM startup paid
once); small shuffle-partition count keeps tiny-data shuffles cheap.

Round 12 — parallel shards: a full serial run costs ~28 min, and the
profile shows it is not a few slow tests but ~3k Spark actions each
paying 0.1-0.5 s of driver latency (analysis + planning + local job
scheduling — measured floor; AQE/codegen/UI toggles move it <5 %), on a
host with 32 cores of which a serial run uses ≤4.  ``pytest-xdist`` is
not installable here (no network), so ``pytest_runtestloop`` below
distributes collected tests FILE-by-FILE across worker subprocesses —
each a plain ``pytest`` run with its own SparkSession — and replays
every worker's per-test reports in the parent, so the summary, the exit
code and ``-x`` semantics stay those of a real run.  Workers stream
reports as JSON lines (lossless: outcome, phase, xfail marker, longrepr)
rather than junitxml.  Any orchestration error falls back to the normal
serial loop.  ``RES2DF_TEST_WORKERS=1`` forces serial; ``=N`` sets the
worker count.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

_SHARD_ENV = "RES2DF_TEST_SHARD"
_LOG_ENV = "RES2DF_TEST_RESULTLOG"

#: Measured per-file seconds from the round-12 serial profile — only
#: used to balance shards (LPT); unknown files weigh by item count.
_FILE_WEIGHTS = {
    "test_welopen_matrix.py": 162, "test_entry_contract.py": 117,
    "test_properties.py": 101, "test_cli.py": 79, "test_case_api.py": 67,
    "test_properties_welopen.py": 60, "test_asof_direction.py": 56,
    "test_modules.py": 54, "test_deck_compdat.py": 49,
    "test_chunked_skew.py": 45, "test_gruptree_corpus.py": 36,
    "test_adversarial_caps.py": 35, "test_vocab_kmeans.py": 33,
    "test_round7_fixes.py": 32, "test_rft_corpus.py": 29,
}


@pytest.fixture(scope="session")
def spark():
    from res2df_spark.session import get_spark

    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark("res2df-spark-tests", master="local[4]")
    spark.conf.set("spark.sql.shuffle.partitions", "4")
    spark.sparkContext.setLogLevel("ERROR")
    yield spark


def rows(df, *cols):
    """Collect to a sorted list of tuples for order-insensitive compare."""
    if cols:
        df = df.select(*cols)
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture(scope="session")
def gencase(tmp_path_factory):
    """A tiny Reek-shaped case written by the benchmark's seeded
    generator (``perfbench/gen.py``): EGRID/INIT/UNRST/SMSPEC/UNSMRY/RFT
    and a ``.DATA`` with INCLUDEs.  Returns ``(root, model)`` — the case
    path without extension and the arrays the generator wrote, which
    the tests compare against.  Read-only: tests write elsewhere."""
    import importlib.util

    here = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    spec = importlib.util.spec_from_file_location(
        "perfbench_gen", os.path.join(here, "perfbench", "gen.py")
    )
    gen = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(gen)
    model = gen.gen_case(str(tmp_path_factory.mktemp("gencase")), "tiny", 2)
    return os.path.join(model["dir"], gen.CASE_NAME), model


# --------------------------------------------------------------------
# worker side: stream every test report to the parent as one JSON line
# --------------------------------------------------------------------


def pytest_runtest_logreport(report):
    path = os.environ.get(_LOG_ENV)
    if not (path and os.environ.get(_SHARD_ENV)):
        return
    rec = {
        "nodeid": report.nodeid,
        "when": report.when,
        "outcome": report.outcome,
        "location": list(report.location),
        "duration": getattr(report, "duration", 0.0),
        "wasxfail": getattr(report, "wasxfail", None),
        "longrepr": str(report.longrepr) if report.longrepr else None,
        "sections": [[t, c[-4000:]] for t, c in report.sections],
    }
    with open(path, "a") as fh:
        fh.write(json.dumps(rec) + "\n")


# --------------------------------------------------------------------
# parent side: shard collected files across worker subprocesses
# --------------------------------------------------------------------


def _lpt_groups(files, n, n_items_by_file):
    """Longest-processing-time partition of files into n groups."""
    def weight(f):
        return _FILE_WEIGHTS.get(os.path.basename(f), 1.5 * n_items_by_file[f])

    groups = [[] for _ in range(n)]
    loads = [0.0] * n
    for f in sorted(files, key=weight, reverse=True):
        i = loads.index(min(loads))
        groups[i].append(f)
        loads[i] += weight(f)
    return [g for g in groups if g]


def _replay(session, log_path, seen):
    """Re-emit a worker's JSON-line reports through the parent's hook
    (terminal dots/summary, Session.testsfailed, -x bookkeeping)."""
    if not os.path.exists(log_path):
        return
    with open(log_path) as fh:
        for line in fh:
            line = line.strip()
            if not line:
                continue
            rec = json.loads(line)
            key = (rec["nodeid"], rec["when"])
            if key in seen:
                continue
            seen.add(key)
            rep = pytest.TestReport(
                nodeid=rec["nodeid"],
                location=tuple(rec["location"]),
                keywords={},
                outcome=rec["outcome"],
                longrepr=rec["longrepr"],
                when=rec["when"],
                sections=[tuple(s) for s in rec.get("sections") or []],
                duration=rec.get("duration") or 0.0,
                start=0.0,
                stop=0.0,
            )
            if rec.get("wasxfail") is not None:
                rep.wasxfail = rec["wasxfail"]
            session.config.hook.pytest_runtest_logreport(report=rep)
            if session.shouldfail:
                raise session.Failed(session.shouldfail)
            if session.shouldstop:
                raise session.Interrupted(session.shouldstop)


@pytest.hookimpl(tryfirst=True)
def pytest_runtestloop(session):
    if os.environ.get(_SHARD_ENV):
        return None  # inside a worker: run the normal serial loop
    config = session.config
    if (
        session.testsfailed
        or config.option.collectonly
        or getattr(config.option, "pdb", False)
        or getattr(config.option, "lf", False)
        or getattr(config.option, "ff", False)
    ):
        return None
    try:
        n_workers = int(os.environ.get("RES2DF_TEST_WORKERS", "0") or 0)
    except ValueError:
        n_workers = 0
    if not n_workers:
        n_workers = max(2, min(8, (os.cpu_count() or 8) // 4))
    by_file: dict[str, list] = {}
    for item in session.items:
        by_file.setdefault(item.location[0], []).append(item)
    if n_workers < 2 or len(by_file) < 4 or len(session.items) < 50:
        return None  # not worth the JVM startups
    try:
        return _parallel_runtestloop(session, by_file, n_workers)
    except (session.Failed, session.Interrupted):
        raise  # normal -x / interrupt control flow
    except BaseException:  # noqa: BLE001 — NEVER break the gate: fall back
        import traceback

        traceback.print_exc()
        sys.stderr.write(
            "conftest: parallel shard orchestration failed, "
            "falling back to the serial test loop\n"
        )
        return None


def _parallel_runtestloop(session, by_file, n_workers):
    import subprocess
    import tempfile

    config = session.config
    groups = _lpt_groups(
        list(by_file), n_workers, {f: len(v) for f, v in by_file.items()}
    )
    tmpdir = tempfile.mkdtemp(prefix="res2df_ptest_")
    fail_fast = bool(config.getvalue("maxfail"))
    procs = []
    for gi, group in enumerate(groups):
        log = os.path.join(tmpdir, f"shard{gi}.jsonl")
        env = dict(os.environ)
        env[_SHARD_ENV] = str(gi + 1)
        env[_LOG_ENV] = log
        nodeids = [i.nodeid for f in group for i in by_file[f]]
        cmd = [
            sys.executable, "-m", "pytest", "-q", "-p", "no:cacheprovider",
            "--basetemp", os.path.join(tmpdir, f"tmp{gi}"),
        ]
        if fail_fast:
            cmd.append("-x")
        cmd += nodeids
        procs.append(
            (
                subprocess.Popen(
                    cmd,
                    env=env,
                    cwd=str(config.rootpath),
                    stdout=subprocess.PIPE,
                    stderr=subprocess.STDOUT,
                    text=True,
                ),
                log,
                group,
            )
        )
    seen: set = set()
    reported_nodeids: set = set()
    try:
        for proc, log, group in procs:
            out, _ = proc.communicate()
            _replay(session, log, seen)
            for key in seen:
                reported_nodeids.add(key[0])
            missing = [
                i.nodeid
                for f in group
                for i in by_file[f]
                if i.nodeid not in reported_nodeids
            ]
            if proc.returncode != 0 and missing:
                # the worker died before running these tests (import
                # crash, OOM): surface them as errors, never silently
                tail = (out or "")[-4000:]
                for nodeid in missing:
                    rep = pytest.TestReport(
                        nodeid=nodeid,
                        location=(group[0], 0, nodeid),
                        keywords={},
                        outcome="failed",
                        longrepr=(
                            f"shard worker exited rc={proc.returncode} "
                            f"before running this test; worker tail:\n{tail}"
                        ),
                        when="call",
                        sections=[],
                        duration=0.0,
                        start=0.0,
                        stop=0.0,
                    )
                    session.config.hook.pytest_runtest_logreport(report=rep)
                    if session.shouldfail:
                        raise session.Failed(session.shouldfail)
    finally:
        for proc, _, _ in procs:
            if proc.poll() is None:
                proc.terminate()
    return True
