"""Per-op counters read from outside the package.

Everything comes from Spark's public status APIs, the JVM's ``/proc``
entries and the SparkContext's persistence registry; nothing inside the
package is instrumented.

* Jobs: each op runs in its own job group; ``statusTracker()`` lists the
  group's jobs and their stage ids.
* Stages: ``statusStore().lastStageAttempt(id)`` gives tasks, executor
  CPU time, shuffle-write bytes and spill.  The store answers with
  ``spark.ui.enabled=false``.
* JVM I/O and peak RSS: ``/proc/<pid>/io`` (``rchar``/``wchar``: bytes
  through read/write syscalls, page-cache hits included) and
  ``/proc/<pid>/status`` (``VmHWM``) of the driver JVM.
* Held state: ``getPersistentRDDs()`` and ``getRDDStorageInfo()``.
"""

from __future__ import annotations

from dataclasses import dataclass

MB = 1024 * 1024


@dataclass
class SparkWork:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    spill_mb: float = 0.0


@dataclass
class Held:
    rdds: int
    storage_mb: float


class Probe:
    """Reads counters of one SparkSession's driver JVM."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self.pid = int(jvm.java.lang.ProcessHandle.current().pid())
        self._store = self.sc._jsc.sc().statusStore()
        self._tracker = self.sc._jsc.sc().statusTracker()

    # -- job groups -------------------------------------------------------

    def set_group(self, group: str) -> None:
        self.sc.setJobGroup(group, group)

    def current_group(self) -> str | None:
        """The job group of the calling thread's JVM peer; streaming
        micro-batches run under the query's run id."""
        return self.sc.getLocalProperty("spark.jobGroup.id")

    def group_jobs(self, group: str | None) -> set[int]:
        if group is None:
            return set()
        return set(self._tracker.getJobIdsForGroup(group))

    def work(self, job_ids) -> SparkWork:
        out = SparkWork(jobs=len(job_ids))
        stage_ids: set[int] = set()
        for jid in job_ids:
            info = self._tracker.getJobInfo(int(jid))
            if info.isDefined():
                stage_ids.update(info.get().stageIds())
        for sid in stage_ids:
            try:
                st = self._store.lastStageAttempt(int(sid))
            except Exception:  # py4j error: a skipped stage has no attempt
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out.stages += 1
            out.tasks += int(st.numTasks())
            out.cpu_s += int(st.executorCpuTime()) / 1e9
            out.shuffle_write_mb += int(st.shuffleWriteBytes()) / MB
            out.spill_mb += (int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())) / MB
        return out

    # -- JVM process ------------------------------------------------------

    def io_bytes(self) -> tuple[int, int]:
        fields = {}
        with open(f"/proc/{self.pid}/io") as fh:
            for line in fh:
                k, _, v = line.partition(":")
                fields[k] = int(v)
        return fields["rchar"], fields["wchar"]

    def peak_rss_mb(self) -> float:
        with open(f"/proc/{self.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
        raise RuntimeError("VmHWM missing from /proc status")

    # -- held state -------------------------------------------------------

    def held(self) -> Held:
        rdds = int(self.sc._jsc.getPersistentRDDs().size())
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        storage = sum(int(i.memSize()) + int(i.diskSize()) for i in infos)
        return Held(rdds=rdds, storage_mb=storage / MB)

    def release_all(self) -> int:
        """Clear the SQL cache and unpersist every RDD; returns how many
        persisted RDDs were found."""
        self.spark.catalog.clearCache()
        persisted = self.sc._jsc.getPersistentRDDs()
        found = int(persisted.size())
        for rdd in list(persisted.values()):
            rdd.unpersist(True)
        return found
