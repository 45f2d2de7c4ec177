"""The two closed-loop workloads over one seeded vector collection.

knn-serve   set-up indexes the collection (REINDEX, sign-LSH); one client
            sends top-10 SEARCHSIMILAR calls for --seconds, which take
            the bucketed path (engine, catalog, operators.ann/knn). Then
            the writer runs the same 16 ops in every run, with no reader.
knn-mutate  the collection stays unindexed; the writer's ops run one after
            another, each followed by one search of the version it just
            committed (the knn-serve query mix, on the exact path, so it
            bypasses operators.ann): six such pairs as warm-up, then
            for --seconds.

Everything runs in one thread. A knn-serve search runs two 256-task jobs,
so concurrent searches only queue for the same cores: four clients
completed as many searches per second as one, each taking four times as
long, and their medians spread by up to 32% between runs of the same code.
A reader beside the writer made search latency bimodal (overlapping a
rewrite or not), and its median jumped between the modes. On knn-mutate
only the ops after the warm-up are timed: the first writes of a fresh JVM
run up to 3x slower than later ones. knn-serve's set-up (REINDEX, two
ANALYZEs) warms the read path, and a warm-up search would cost ~3 s of a
run's budget.

Set-up is session start, CREATE and BULKINSERT of the corpus, plus REINDEX
on knn-serve. Both workloads end with one more TRUNCATEWAL. Every op's
output is checked against the NumPy oracles after the timed window.
"""

from __future__ import annotations

import itertools
import os
import statistics
import sys
import time
import traceback
from dataclasses import dataclass

import numpy as np

import gen

COLLECTION = "vectors"
#: Untimed knn-mutate write-then-search pairs before the window opens.
WARMUP_OPS = 6
#: knn-serve's set-up runs the writer's first ops (INSERT, DELETE, INSERT,
#: UPDATE) before REINDEX; after the searches the writer runs the next 16,
#: the rest of that cycle and most of the next: 7 rewrites, of which only
#: the first (it rewrites the bucketed snapshot flat) is not like the others.
SETUP_WRITES = 4
SERVE_WRITES = 16


@dataclass
class Search:
    spec: dict
    rows: list
    begin: float
    seconds: float
    end: float
    v_before: int
    v_after: int


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def walk_bytes(root: str) -> dict[int, int]:
    """inode -> size of every file under ``root``; a hard-linked file
    counts once."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            try:
                st = os.stat(os.path.join(d, f))
            except FileNotFoundError:
                continue
            out[st.st_ino] = st.st_size
    return out


def peak_rss_mb() -> float:
    """VmHWM of this process plus every process below it (the JVM and
    any Python workers), in MiB."""
    parent = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as f:
                    parent[int(pid)] = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = [os.getpid()], [os.getpid()]
    while frontier:
        frontier = [p for p, pp in parent.items() if pp in frontier]
        tree += frontier
    kb = 0
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        kb += int(line.split()[1])
        except OSError:
            continue
    return kb / 1024


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, tracer, work: str):
        self.workload = workload
        self.seed = seed % (1 << 32)
        self.seconds = seconds
        self.tracer = tracer
        self.work = work
        self.model, self.mix = gen.Model.corpus(self.seed)
        self.script = gen.WriterScript(self.model, self.mix, self.seed)
        self.ops = self.script.ops()
        self.searches: list[Search] = []
        self.writes: list[tuple[str, float]] = []
        self.failures: list[str] = []
        self.attempted = 0
        self.recalls: list[float] = []
        self.bytes_written = 0
        self.user_bytes_changed = 0
        self.start: float | None = None  # when the timed window opened
        self.first_timed_op = 0

    # -- set-up -------------------------------------------------------------
    def write_corpus(self) -> str:
        import pyarrow as pa
        import pyarrow.parquet as pq

        m = self.model
        path = os.path.join(self.work, "corpus.parquet")
        table = pa.table({
            "id": pa.array(m.ids),
            "embedding": pa.array(list(m.emb), type=pa.list_(pa.float32())),
            "payload": pa.array(list(m.payload), type=pa.string()),
            "meta": pa.array([[("label", gen.label_name(int(l)))] for l in m.labels],
                             type=pa.map_(pa.string(), pa.string())),
        })
        pq.write_table(table, path)
        return path

    def setup(self) -> None:
        corpus = self.write_corpus()
        t0 = time.perf_counter()
        from vrod_spark.engine import Engine
        from vrod_spark.session import get_spark

        with self.tracer.span("session.get_spark"):
            self.spark = get_spark(
                "perfbench",
                extra_conf={
                    "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                    "spark.ui.showConsoleProgress": "false",
                    "spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}",
                },
            )
        self.session_s = time.perf_counter() - t0
        self.engine = Engine.create(self.spark, self.work, "db")
        self.db_path = self.engine.db.path
        self.write_op("CREATE", {"dimension": gen.DIM}, check=None)
        self.col = self.engine.db.collection(COLLECTION)
        self.write_op("BULKINSERT", corpus, check=("rows", gen.CORPUS_ROWS))
        self.model.commit(self.col.version)
        if self.workload == "knn-serve":
            # Warm the writer's code paths while the collection is still
            # flat, so that the timed writes after the searches start warm.
            self.run_script(itertools.islice(self.ops, SETUP_WRITES))
            self.write_op("REINDEX", None, check=("indexed", True))
            self.model.indexed = True
            self.model.commit(self.col.version)
        if self.failures:
            raise RuntimeError(f"set-up failed: {self.failures[0]}")
        self.setup_s = time.perf_counter() - t0
        log(f"set-up {self.setup_s:.1f}s: session {self.session_s:.1f}s")

    # -- ops --------------------------------------------------------------------
    def fail(self, what: str) -> None:
        self.failures.append(what)
        log(f"FAILED: {what}")

    def write_op(self, verb: str, arg, check) -> float | None:
        """Run one writer verb; returns its latency in seconds, or None
        when it failed or reported the wrong count."""
        # Bytes written are counted for the ops after set-up only.
        trace = self.tracer.enabled and self.start is not None
        before = walk_bytes(self.db_path) if trace else None
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.op(verb.lower(), self.spark):
                res = self.engine.execute(verb, collection=COLLECTION, arg=arg)
        except Exception:  # noqa: BLE001 — a failed op is counted, the run goes on
            self.fail(f"{verb}: {traceback.format_exc()}")
            return None
        dt = time.perf_counter() - t0
        if trace:
            after = walk_bytes(self.db_path)
            self.bytes_written += sum(s for i, s in after.items() if i not in before)
        if check is not None and (res.info or {}).get(check[0]) != check[1]:
            self.fail(f"{verb}: expected {check[0]}={check[1]!r}, got {res.info}")
            return None
        return dt

    def search(self, stream) -> None:
        spec = next(stream)
        v0 = self.col.version
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            with self.tracer.op("searchsimilar", self.spark):
                res = self.engine.execute("SEARCHSIMILAR", collection=COLLECTION, arg=spec)
                with self.tracer.span("collect.searchsimilar"):
                    rows = [tuple(r) for r in res.df.collect()]
        except Exception:  # noqa: BLE001
            self.fail(f"SEARCHSIMILAR: {traceback.format_exc()}")
            return
        t1 = time.perf_counter()
        self.searches.append(Search(spec, rows, t0, t1 - t0, t1, v0, self.col.version))

    def run_script(self, ops) -> None:
        for verb, arg, apply, expected, changed in ops:
            check = {"INSERT": ("rows", expected), "DELETE": ("deleted", expected),
                     "UPDATE": ("matched", expected)}.get(verb)
            dt = self.write_op(verb, arg, check)
            if dt is None:
                continue
            if self.start is not None:
                self.writes.append((verb, dt))
            apply()
            self.user_bytes_changed += changed
            if verb != "TRUNCATEWAL":
                self.model.commit(self.col.version)

    # -- workloads ------------------------------------------------------------
    def open_window(self) -> None:
        """Time the ops that start from now on; ops numbered after
        ``first_timed_op`` are the traced run's."""
        self.first_timed_op = getattr(self.tracer, "_next_id", 0)
        self.start = time.perf_counter()

    def run(self) -> None:
        self.setup()
        stream = gen.query_stream(self.mix, self.seed, 0)
        if self.workload == "knn-serve":
            self.open_window()
            deadline = self.start + self.seconds
            while time.perf_counter() < deadline:
                self.search(stream)
            # The writer with no reader left: its first DELETE rewrites the
            # bucketed snapshot flat, dropping the index.
            self.run_script(itertools.islice(self.ops, SERVE_WRITES))
        else:
            for _ in range(WARMUP_OPS):
                self.run_script([next(self.ops)])
                self.search(stream)
            self.open_window()
            deadline = self.start + self.seconds
            while time.perf_counter() < deadline:
                self.run_script([next(self.ops)])
                self.search(stream)
        self.run_script([self.script.truncate()])

    def timed_searches(self) -> list[Search]:
        return [s for s in self.searches
                if self.start is not None and s.begin >= self.start]

    # -- checks -----------------------------------------------------------------
    def check(self) -> None:
        for s in self.searches:
            problem = self._check_search(s)
            if problem:
                self.fail(f"SEARCHSIMILAR {problem}")
        self._check_final()

    def _check_search(self, s: Search) -> str | None:
        m = self.model
        versions = [m.versions[v] for v in range(s.v_before, s.v_after + 1) if v in m.versions]
        if not versions:
            return f"read versions {s.v_before}..{s.v_after}, none committed by the script"
        k = s.spec["k"]
        if len(s.rows) > k:
            return f"returned {len(s.rows)} rows for k={k}"
        ids = [r[0] for r in s.rows]
        if len(set(ids)) != len(ids):
            return "returned an id twice"
        keys = [(r[2], r[0]) for r in s.rows]
        if keys != sorted(keys):
            return "rows not ordered by (distance, id)"
        q = np.asarray(s.spec["vector"], dtype=np.float64)
        label = gen.filter_label(s.spec)
        for rid, payload, dist in s.rows:
            if not 0 <= rid < len(m.ids):
                return f"unknown id {rid}"
            if not any(rid < len(v.alive) and v.alive[rid] and v.payload[rid] == payload
                       for v in versions):
                return f"id {rid} with payload {payload!r} is in no version read"
            if label is not None and m.labels[rid] != label:
                return f"id {rid} fails the prefilter {s.spec['where']}"
            want = float(gen.distances(m.emb[rid:rid + 1], q)[0])
            if abs(dist - want) > 1e-6 * max(1.0, want):
                return f"id {rid} distance {dist} != {want}"
        if len(versions) != 1:
            return None
        v = versions[0]
        oracle_ids, _ = gen.oracle_topk(m, v, s.spec)
        if not v.indexed:
            if ids != list(oracle_ids):
                return f"exact path returned {ids}, oracle {list(oracle_ids)}"
        elif label is None and len(ids) != min(k, len(oracle_ids)):
            return f"returned {len(ids)} rows, want {min(k, len(oracle_ids))}"
        if v.indexed and len(oracle_ids):
            self.recalls.append(len(set(ids) & set(oracle_ids.tolist())) / len(oracle_ids))
        return None

    def _check_final(self) -> None:
        self.attempted += 1
        table = self.col.read().toArrow()
        emb = table.column("embedding").combine_chunks()
        vecs = emb.flatten().to_numpy(zero_copy_only=False).astype(np.float32)
        vecs = vecs.reshape(len(table), gen.DIM)
        labels = [int(dict(mm)["label"][1:]) for mm in table.column("meta").to_pylist()]
        got = gen.content_checksum(
            table.column("id").to_numpy(), table.column("payload").to_pylist(),
            labels, vecs,
        )
        want = self.model.checksum()
        log(f"final content: rows={got[0]} sha256={got[1][:16]} (model rows={want[0]} sha256={want[1][:16]})")
        if got != want:
            self.fail(f"final content {got} != model {want}")

    # -- metrics ------------------------------------------------------------
    def metrics(self) -> dict[str, float]:
        """The end-to-end metrics; a kind of op that never succeeded reads
        0 (the run then also reports it failed)."""
        def median(xs):
            return statistics.median(xs) if xs else 0.0

        timed = self.timed_searches()
        lat = [s.seconds for s in timed]
        rew = [dt for v, dt in self.writes if v in ("UPDATE", "DELETE")]
        stored = sum(walk_bytes(self.db_path).values())
        window = (max(s.end for s in timed) - min(s.begin for s in timed)) if timed else 0.0
        return {
            "setup_s": self.setup_s,
            "search_qps": len(lat) / window if lat else 0.0,
            "search_p50_ms": 1000 * median(lat),
            "rewrite_p50_ms": 1000 * median(rew),
            "stored_bytes_per_user_byte": stored / self.model.user_bytes(),
        }
