"""Per-stage executor metrics of a pipeline run, read from Spark's
in-process status store (no event log, no UI needed).

``stage_tag(sc, name)`` tags every job the calling thread submits inside
it with the job tag ``dedup.<name>``. A tag, not a job group: the
caller's ``setJobGroup`` stays on the job. Tags are thread-local, so a
pool thread starts from ``with_caller_properties`` and each concurrent
branch opens its own tag. ``stage_ledger(sc, first_job)`` sums, per
tag, the metrics of every job from ``first_job`` on:

  {row: {jobs, wall_s, cpu_s, shuffle_write_mb, shuffle_read_mb, spill_mb}}

Jobs without a ``dedup.`` tag go to the ``untagged`` row, so the rows sum
to the whole window. ``wall_s`` runs from the row's first job submission
to its last job completion; rows overlap in time where stages run
concurrently. ``cpu_s`` is JVM executor CPU: the Python workers of the
pandas UDFs (signatures, winnow, LCS) burn CPU outside it. A stage id that
several jobs list is counted once.

What a row holds depends on the barrier policy (pipeline.py):

  blocks, parquet
    docs, doc_tokens, winnow  their barriers
    candidates      the keyed barrier: the fused MinHash/SimHash UDF and
                    every family's bucket-key rows; the pairs generated
                    from it are lazy and run inside ``verified``
    verified        pair generation from the keyed table plus scoring
    cheap_clusters  the capped pre-substring CC rounds
    clusters        substring LCS, first-wins and the final CC rounds
                    (``substring_pairs`` and ``pairs`` are lazy)
  checkpoint
    every stage writes its own table, so each has its own row

Spark keeps the last ``spark.ui.retainedJobs`` jobs and
``spark.ui.retainedStages`` stages (1000 each by default), evicting
skipped stages, which carry no metrics, first. A window missing a job or
a completed stage raises instead of under-reporting.
"""

from __future__ import annotations

from contextlib import contextmanager
from typing import Callable

from py4j.protocol import Py4JJavaError

TAG_PREFIX = "dedup."
_MB = 2**20
_FIELDS = ("jobs", "wall_s", "cpu_s", "shuffle_write_mb", "shuffle_read_mb",
           "spill_mb")


@contextmanager
def stage_tag(sc, name: str):
    tag = TAG_PREFIX + name
    sc.addJobTag(tag)
    try:
        yield
    finally:
        sc.removeJobTag(tag)


def with_caller_properties(sc, fn: Callable) -> Callable:
    """``fn`` run with a copy of the calling thread's Spark local
    properties: a pool thread starts without them, so its jobs would lose
    the caller's job group and stage tag. A copy per call, because tags and
    pools are set by mutating the thread's own properties."""
    props = sc._jsc.sc().getLocalProperties().clone()

    def run(*args):
        sc._jsc.sc().setLocalProperties(props.clone())
        return fn(*args)

    return run


def stage_ledger(sc, first_job: int) -> dict[str, dict]:
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # the store is fed asynchronously
    store = jsc.statusStore()
    rows: dict[str, dict] = {}
    spans: dict[str, list] = {}  # row -> [first submission, last completion]
    seen: set[int] = set()
    for job_id in range(first_job, jsc.dagScheduler().nextJobId()):
        try:
            job = store.job(job_id)
        except Py4JJavaError as e:
            raise RuntimeError(
                f"job {job_id} is no longer in Spark's status store: raise "
                f"spark.ui.retainedJobs above the run's job count"
            ) from e
        stages = []
        for stage_id in filter(None, job.stageIds().mkString(",").split(",")):
            try:
                stages.append(store.lastStageAttempt(int(stage_id)))
            except Py4JJavaError:
                pass  # evicted; the store drops skipped (metric-free) ones first
        done = sum(str(s.status()) == "COMPLETE" for s in stages)
        if done < job.numCompletedStages():
            raise RuntimeError(
                f"a completed stage of job {job_id} is no longer in Spark's "
                f"status store: raise spark.ui.retainedStages"
            )
        tags = job.jobTags().mkString("\n").split("\n")
        name = next(
            (t[len(TAG_PREFIX):] for t in tags if t.startswith(TAG_PREFIX)),
            "untagged",
        )
        row = rows.setdefault(name, dict.fromkeys(_FIELDS, 0))
        span = spans.setdefault(name, [float("inf"), 0])
        row["jobs"] += 1
        span[0] = min(span[0], job.submissionTime().get().getTime())
        if job.completionTime().isDefined():
            span[1] = max(span[1], job.completionTime().get().getTime())
        for s in stages:
            if s.stageId() in seen:
                continue
            seen.add(s.stageId())
            row["cpu_s"] += s.executorCpuTime() / 1e9
            row["shuffle_write_mb"] += s.shuffleWriteBytes() / _MB
            row["shuffle_read_mb"] += s.shuffleReadBytes() / _MB
            row["spill_mb"] += (
                s.memoryBytesSpilled() + s.diskBytesSpilled()
            ) / _MB
    for name, (start, end) in spans.items():
        rows[name]["wall_s"] = max(end - start, 0) / 1e3
    return rows
