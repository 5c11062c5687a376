"""The three workloads. Each is one closed-loop client: the next query or
micro-batch starts only after the previous one has finished.

- relational: TPC-H-style queries (every third of q01-q18 and
  tpch01-tpch22). Bound by driver overhead, no Python workers.
- curation: one query from each curation family (dedup, ann, embedding,
  text, decontaminate, curation_pipeline) and a second dedup query:
  Arrow/pandas UDFs,
  connected-components loops that run jobs while the plan is built,
  shuffle-heavy minhash plans and session-shared artifacts.
- ingest: maintain_dedup streams the arrival documents, as seeded
  micro-batch files, into a copy of a pre-built signature store; the only
  workload that writes.

An operation is one query (plan build plus collect) or one micro-batch.
"""

from __future__ import annotations

import os
import shutil
import sys
import time
from dataclasses import dataclass

from perfbench import inputs
from perfbench.layers import trigger_spans
from perfbench.tracing import NullTracer, catalyst_phases, progress_listener

# Subsets, so the whole benchmark fits its time budget: every third of
# q01-q18 + tpch01-tpch22 starting at q02, and one query per curation
# family plus a second dedup query. Both counts are odd on purpose: the
# median operation then falls inside one query's samples instead of
# between two queries' (see QueryWorkload.__init__).
RELATIONAL = tuple(
    [f"q{i:02d}" for i in range(1, 19)] + [f"tpch{i:02d}" for i in range(1, 23)]
)[1::3]
CURATION = (
    "ann_ivf",
    "curation_pipeline",
    "decontaminate_ngram",
    "dedup_clusters",
    "dedup_minhash_lsh",
    "embedding_quantize",
    "text_langid",
)
INGEST_BATCHES = 2
# An operation slower than this counts as failed (timed out).
OP_TIMEOUT_S = 60.0

# Layers each workload must record calls in when traced; zero calls in
# one of them means a wrapper missed a binding, and the run fails.
REQUIRED = {
    "relational": ("plans.build_ms", "sources.load_calls", "catalyst.planning_ms",
                   "scheduler.jobs", "executor.run_ms"),
    "curation": ("plans.build_ms", "plans.build_jobs", "sources.load_calls",
                 "operators.artifact_calls", "operators.persist_calls",
                 "catalyst.planning_ms", "scheduler.jobs", "executor.run_ms",
                 "functions.python_run_ms"),
    "ingest": ("operators.persist_calls", "sources.bytes_written", "streaming.batches",
               "scheduler.jobs", "executor.run_ms"),
}


@dataclass
class Op:
    name: str
    ms: float
    error: str | None = None


class Workload:
    """Session, inputs and the pass loop of one workload."""

    # Measured passes per run, at least. The JIT keeps speeding passes up
    # for minutes; a fixed count gives every run the same drift, where a
    # count set by how many passes fit would not. The median of three
    # leaves out the first measured pass, which the JIT still slows, or a
    # pass that a burst of CPU steal slowed.
    min_passes = 3

    def __init__(self, name: str, seed: int, work: str, cpus: int, event_log: bool):
        self.name = name
        self.seed = seed
        self.work = work
        self.cpus = cpus
        self.inputs_dir = os.path.join(work, "inputs")
        self.event_log_dir = os.path.join(work, "eventlog") if event_log else None
        self.setup_parts: dict[str, float] = {}
        self.input_stats: dict = {}
        self.spark = None

    # -- setup -----------------------------------------------------------

    def setup(self) -> float:
        """Input generation, session start, cache/store fill and warm-up.
        Returns the wall seconds; parts land in setup_parts. The expected
        outputs are computed after the inputs, outside the set-up clock."""
        t0 = time.perf_counter()
        self.write_inputs()
        t_inputs = time.perf_counter() - t0
        self.prepare_checks()
        t1 = time.perf_counter()
        from tez_spark.session import get_spark

        self.spark = get_spark(
            app_name=f"perfbench-{self.name}",
            cpus=self.cpus,
            event_log_dir=self.event_log_dir,
            extra_confs={
                "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
                # Pin the heap and the young generation: G1's adaptive
                # sizing otherwise makes the peak RSS of the same work
                # differ by up to 30% between runs.
                "spark.driver.extraJavaOptions":
                    f"-Xms{os.environ['TEZ_SPARK_DRIVER_MEM']} -Xmn512m",
            },
        )
        t2 = time.perf_counter()
        self.fill()
        t3 = time.perf_counter()
        self.warm_up()
        t4 = time.perf_counter()
        self.setup_parts.update(
            inputs_s=t_inputs, start_s=t2 - t1, fill_s=t3 - t2, warmup_s=t4 - t3
        )
        return t_inputs + t4 - t1

    def write_inputs(self) -> None:
        self.input_stats = inputs.write_tables(self.seed, self.inputs_dir)

    def fill(self) -> None:
        """Workload-specific cache or store fill (part of set-up)."""

    def warm_up(self) -> None:
        """One untimed full pass: compiles every plan shape and fills the
        session's caches before anything is measured."""
        self.run_pass(-1, NullTracer())

    def run_pass(self, index: int, tracer) -> tuple[float, list[Op]]:
        """One full pass: (wall seconds, operations)."""
        raise NotImplementedError

    def prepare_checks(self) -> None:
        """Compute the expected outputs from the inputs."""

    def check(self) -> None:
        """Check the outputs of the passes run since the last call; a wrong
        output marks its operation failed."""

    def wait_for_listeners(self) -> None:
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


class QueryWorkload(Workload):
    """relational and curation: registry queries, checked against their
    DuckDB oracles with the tests' order-insensitive comparator."""

    def __init__(self, *args, names, **kwargs):
        super().__init__(*args, **kwargs)
        # Operations form one cluster of samples per query. With an odd
        # query count, p50 lands inside one query's cluster, and p90 does
        # too at 13 queries x 3 passes and 7 queries x 3 passes; between
        # two clusters either would jump from run to run.
        self.names = names
        self.queries = {}
        self.expected: dict[str, tuple] = {}
        self.pending: list[tuple[Op, list, list]] = []

    def fill(self) -> None:
        from tez_spark.plans.registry import all_queries

        registry = all_queries()
        self.queries = {n: registry[n] for n in self.names}

    def warm_up(self) -> None:
        super().warm_up()
        self.pending.clear()

    def prepare_checks(self) -> None:
        import duckdb

        from conftest import canon_rows  # tests/conftest.py
        from tez_spark.plans.registry import all_oracles

        oracles = all_oracles()
        con = duckdb.connect(config={"temp_directory": os.path.join(self.work, "duckdb")})
        try:
            for t in inputs.table_names():
                path = os.path.join(self.inputs_dir, f"{t}.parquet")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for n in self.names:
                rel = con.execute(oracles[n])
                cols = [d[0] for d in rel.description]
                self.expected[n] = canon_rows(cols, rel.fetchall())
        finally:
            con.close()

    def run_pass(self, index: int, tracer) -> tuple[float, list[Op]]:
        ops: list[Op] = []
        order = inputs.query_order(self.seed, self.names, index)
        pass_t0 = time.perf_counter()
        with tracer.span("pass", "pass", index=index):
            for name in order:
                tracer.op = len(ops)
                df = None
                t0 = time.perf_counter()
                try:
                    with tracer.span("op", "op", query=name):
                        with tracer.span("plans.build", "plans"):
                            df = self.queries[name](self.spark, self.inputs_dir)
                        with tracer.span("action", "action"):
                            rows = df.collect()
                    op = Op(name, 1000.0 * (time.perf_counter() - t0))
                    self.pending.append((op, df.columns, rows))
                except Exception as exc:  # one failing query must not end the run
                    op = Op(name, 1000.0 * (time.perf_counter() - t0), repr(exc)[:300])
                ops.append(op)
                if tracer.enabled and df is not None and op.error is None:
                    with tracer.span("trace.catalyst", "trace") as attrs:
                        attrs["phases"] = catalyst_phases(df)
        tracer.op = None
        return time.perf_counter() - pass_t0, ops

    def check(self) -> None:
        """Compare every collected result with its oracle; a mismatch marks
        the operation failed, with the first difference as the reason."""
        from conftest import canon_rows

        for op, cols, rows in self.pending:
            want_cols, want = self.expected[op.name]
            got_cols, got = canon_rows(cols, [tuple(r) for r in rows])
            if got_cols != want_cols:
                op.error = f"columns {got_cols} != oracle {want_cols}"
            elif len(got) != len(want):
                op.error = f"{len(got)} rows != oracle {len(want)}"
            else:
                op.error = rows_mismatch(got, want)
        self.pending.clear()


def _decimals(x: float) -> int:
    text = repr(x)
    if "e" in text or "n" in text:
        return 6
    frac = text.partition(".")[2]
    return 0 if frac == "0" else len(frac)


def rows_mismatch(got: list[tuple], want: list[tuple]) -> str | None:
    """First difference between two canonicalized row lists, or None.

    Cells compare exactly (tests/conftest.py's canon: floats at 6
    decimals), with one allowance: a float column the query itself rounded
    to d decimals (every value shows 1 <= d < 6 of them) may differ by one
    unit in the d-th decimal. Summing doubles in another row order moves
    the unrounded value by a few ulps, which flips ROUND(SUM(x), 2) when it
    sits on a rounding boundary (tpch09 on some seeds). Integral columns
    stay exact: sums of integral doubles have no rounding noise."""
    tol: dict[int, float] = {}
    for c in range(len(want[0]) if want else 0):
        vals = [r[c] for r in got + want if isinstance(r[c], float)]
        d = max((_decimals(v) for v in vals), default=0)
        if vals and 1 <= d < 6:
            tol[c] = 10.0**-d * (1 + 1e-9)
    for i, (a, b) in enumerate(zip(got, want)):
        for c, (x, y) in enumerate(zip(a, b)):
            if x != y and not (c in tol and isinstance(x, float) and isinstance(y, float)
                               and abs(x - y) <= tol[c]):
                return f"row {i}: {a} != oracle {b}"
    return None


class IngestWorkload(Workload):
    """Streams the arrival documents through maintain_dedup, one seeded
    micro-batch file per trigger, into a fresh copy of the pre-built
    signature store each pass."""

    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.stream_dir = os.path.join(self.work, "stream")
        self.pristine = os.path.join(self.work, "store-pristine")
        self.batch_docs: list[list[int]] = []
        self.expected: dict[int, set] = {}
        self.reported: dict[int, list] = {}
        self._where: dict[int, int] = {}
        self.store_sizes: list[tuple[int, int]] = []
        self.listener = None

    def fill(self) -> None:
        self.listener = progress_listener()
        self.spark.streams.addListener(self.listener)

    def warm_up(self) -> None:
        """One untimed maintain_dedup call seeds the signature store from
        the corpus split and streams every micro-batch into it: the store
        fill and a warm-up pass in one. Its seed contributions are kept as
        the pristine store each measured pass starts from."""
        from tez_spark.streaming.ingest import maintain_dedup

        build = os.path.join(self.work, "store-build")
        maintain_dedup(self.spark, self.inputs_dir, build, self.stream_dir,
                       lambda pairs, batch_id: pairs.collect())
        for part in ("shingles", "bands"):
            shutil.copytree(os.path.join(build, part, "seed"),
                            os.path.join(self.pristine, part, "seed"))
        shutil.rmtree(build)
        self.wait_for_listeners()
        self.listener.batches = []

    def write_inputs(self) -> None:
        super().write_inputs()
        self.batch_docs = inputs.write_batches(
            self.seed, self.inputs_dir, self.stream_dir, INGEST_BATCHES
        )

    def prepare_checks(self) -> None:
        """Expected pairs per micro-batch from the dedup_incremental oracle:
        a pair is reported by the batch in which its later document
        arrives; pairs of two arrivals compare unordered."""
        import duckdb

        from tez_spark.plans.registry import all_oracles

        where = {d: b for b, docs in enumerate(self.batch_docs) for d in docs}
        con = duckdb.connect(config={"temp_directory": os.path.join(self.work, "duckdb")})
        try:
            path = os.path.join(self.inputs_dir, "documents.parquet")
            con.execute(f"CREATE VIEW documents AS SELECT * FROM '{path}'")
            rows = con.execute(all_oracles()["dedup_incremental"]).fetchall()
        finally:
            con.close()
        self.expected = {b: set() for b in range(len(self.batch_docs))}
        for da, db, j in rows:
            b = max(where.get(da, -1), where.get(db, -1))
            self.expected[b].add(self._norm(da, db, j, where))
        self._where = where

    @staticmethod
    def _norm(da, db, j, where):
        if da in where and db in where:
            da, db = min(da, db), max(da, db)
        return (da, db, round(j, 6))

    def run_pass(self, index: int, tracer) -> tuple[float, list[Op]]:
        from tez_spark.streaming.ingest import maintain_dedup

        store = os.path.join(self.work, f"store-{index}")
        shutil.copytree(self.pristine, store)
        self.reported = {}

        def report(pairs, batch_id):
            with tracer.span("action", "action"):
                self.reported[batch_id] = pairs.collect()

        failure = None
        t0 = time.perf_counter()
        with tracer.span("pass", "pass", index=index):
            try:
                maintain_dedup(self.spark, self.inputs_dir, store, self.stream_dir, report)
            except Exception as exc:  # a failing stream must not end the run
                failure = repr(exc)[:300]
        wall = time.perf_counter() - t0
        self.wait_for_listeners()
        batches, self.listener.batches = self.listener.batches, []
        if tracer.enabled:
            for span in trigger_spans(batches, 0):
                tracer.add(span)
            self.store_sizes.append(_tree_size(store))
        shutil.rmtree(store)
        ops = []
        for b in batches:
            op = Op(f"batch_{b['batch_id']}", float(b["duration_ms"].get("triggerExecution", 0)))
            got = [self._norm(r.da, r.db, r.j, self._where)
                   for r in self.reported.get(b["batch_id"], [])]
            want = self.expected.get(b["batch_id"], set())
            if len(got) != len(set(got)):
                op.error = "a pair was reported twice"
            elif set(got) != want:
                op.error = (f"pairs {sorted(set(got) - want)[:3]} not in oracle, "
                            f"{sorted(want - set(got))[:3]} missing")
            ops.append(op)
        if failure is None and len(batches) != len(self.batch_docs):
            failure = f"{len(batches)} micro-batches for {len(self.batch_docs)} files"
        if failure is not None:
            ops.append(Op("stream", 1000.0 * wall, failure))
        return wall, ops


def _tree_size(path: str) -> tuple[int, int]:
    """(bytes, files) under path."""
    n_bytes = n_files = 0
    for root, _, files in os.walk(path):
        for f in files:
            n_bytes += os.path.getsize(os.path.join(root, f))
            n_files += 1
    return n_bytes, n_files


def make(name: str, seed: int, work: str, repo_root: str, cpus: int,
         event_log: bool) -> Workload:
    # the output comparator is tests/conftest.py's
    tests = os.path.join(repo_root, "tests")
    if tests not in sys.path:
        sys.path.append(tests)
    args = (name, seed, work, cpus, event_log)
    if name == "relational":
        return QueryWorkload(*args, names=RELATIONAL)
    if name == "curation":
        return QueryWorkload(*args, names=CURATION)
    if name == "ingest":
        return IngestWorkload(*args)
    raise ValueError(f"unknown workload {name!r}")
