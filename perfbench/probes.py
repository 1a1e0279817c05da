"""Spark-side readers for the benchmark: the full-output hash action and
the per-layer counters read through Spark's own status APIs.

Every reader works from outside the engine package: it sees a query only
through the DataFrame its catalog function returns, the job groups the
benchmark sets around the calls, and the listener it registers.
"""

from __future__ import annotations

from datetime import datetime

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming import StreamingQueryListener

_DEC = "decimal(38,0)"


def _hashable(field: T.StructField):
    col = F.col(f"`{field.name}`")
    # xxhash64 refuses maps; sorted entries carry the same content
    if isinstance(field.dataType, T.MapType):
        return F.array_sort(F.map_entries(col))
    return col


def hash_frame(df: DataFrame) -> DataFrame:
    """One row: ``count(*)`` and the sum of ``xxhash64`` over every output
    column.  The sum is order-free, and consuming every column keeps
    Catalyst from pruning any projected work away."""
    row_hash = F.xxhash64(*[_hashable(f) for f in df.schema.fields]) if df.columns else F.lit(0)
    return df.agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(row_hash.cast(_DEC)), F.lit(0).cast(_DEC)).alias("hash"),
    )


def read_hash(frame: DataFrame) -> tuple[int, str]:
    row = frame.collect()[0]
    return int(row["rows"]), str(row["hash"])


class JvmProbe:
    """Catalyst, codegen and stage counters of one session's JVM."""

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self.jvm = spark._jvm
        self.jsc = spark._jsc.sc()
        self._codegen = self.jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._cgm = self.jvm.org.apache.spark.metrics.source.CodegenMetrics
        self._no_quantiles = spark._sc._gateway.new_array(self.jvm.double, 0)
        self._no_tasks = self.jvm.java.util.ArrayList()

    def drain_listeners(self) -> None:
        """Block until every posted event reached the status store and the
        streaming listeners."""
        self.jsc.listenerBus().waitUntilEmpty(30_000)

    def codegen(self) -> tuple[int, int, float]:
        """(classes compiled, compile ns, source chars) since JVM start.
        The class count and compile time are exact counters.  The source
        size histogram is reservoir-sampled, so its total is estimated as
        count x mean and only differences of nearby readings are used."""
        size = self._cgm.METRIC_SOURCE_CODE_SIZE()
        n_src = size.getCount()
        return (
            int(self._cgm.METRIC_COMPILATION_TIME().getCount()),
            int(self._codegen.compileTime()),
            n_src * size.getSnapshot().getMean() if n_src else 0.0,
        )

    @staticmethod
    def phases(frame: DataFrame) -> dict[str, tuple[int, int]]:
        """Catalyst phase intervals (epoch ms) recorded on the frame's
        QueryExecution: analysis, optimization, planning."""
        tracked = frame._jdf.queryExecution().tracker().phases()
        out = {}
        for name in ("analysis", "optimization", "planning"):
            if tracked.contains(name):
                p = tracked.apply(name)
                out[name] = (int(p.startTimeMs()), int(p.endTimeMs()))
        return out

    def group_stats(self, group: str) -> dict:
        """Sum the jobs and stages of one job group from the status store.
        Stages shared by several jobs of the group are counted once."""
        store = self.jsc.statusStore()
        job_ids = list(self.spark._sc.statusTracker().getJobIdsForGroup(group))
        jobs, stage_ids = [], set()
        for jid in job_ids:
            j = store.job(jid)
            sub, done = j.submissionTime(), j.completionTime()
            if sub.isDefined() and done.isDefined():
                jobs.append((sub.get().getTime(), done.get().getTime()))
            seq = j.stageIds()
            stage_ids.update(int(seq.apply(i)) for i in range(seq.size()))
        s = dict.fromkeys(
            ("stages", "tasks", "single_task_stages", "run_ms", "cpu_ns", "gc_ms",
             "shuffle_write", "shuffle_read", "spill", "output", "input", "input_rows",
             "failed_tasks"), 0)
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, False, self._no_tasks, False, self._no_quantiles)
            ran = False
            for i in range(attempts.size()):
                st = attempts.apply(i)
                if st.numCompleteTasks() + st.numFailedTasks() == 0:
                    continue  # skipped: its shuffle output was reused
                ran = True
                s["tasks"] += st.numTasks()
                s["failed_tasks"] += st.numFailedTasks()
                s["run_ms"] += st.executorRunTime()
                s["cpu_ns"] += st.executorCpuTime()
                s["gc_ms"] += st.jvmGcTime()
                s["shuffle_write"] += st.shuffleWriteBytes()
                s["shuffle_read"] += st.shuffleReadBytes()
                s["spill"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                s["output"] += st.outputBytes()
                s["input"] += st.inputBytes()
                s["input_rows"] += st.inputRecords()
                if st.numTasks() == 1:
                    s["single_task_stages"] += 1
            s["stages"] += ran
        s["jobs"] = len(job_ids)
        s["job_intervals_ms"] = jobs
        return s


def _epoch_ms(iso: str) -> float:
    return datetime.fromisoformat(iso.replace("Z", "+00:00")).timestamp() * 1000.0


class StreamRecorder(StreamingQueryListener):
    """Keeps one record per micro-batch of every streaming query run while
    it is registered.  Stream jobs carry the query's runId as their job
    group, which is how their stages are found."""

    def __init__(self):
        self.batches: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        d = p.durationMs
        state = p.stateOperators or []
        start = _epoch_ms(p.timestamp)
        self.batches.append({
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "start_ms": start,
            "end_ms": start + d.get("triggerExecution", 0),
            "trigger_ms": d.get("triggerExecution", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "planning_ms": d.get("queryPlanning", 0),
            "wal_commit_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
            "state_rows": sum(op.numRowsTotal for op in state),
            "state_bytes": sum(op.memoryUsedBytes for op in state),
            "state_commit_ms": sum(op.commitTimeMs for op in state),
        })

    def onQueryTerminated(self, event):
        pass

    def take(self) -> list[dict]:
        out, self.batches = self.batches, []
        return out
