"""The output commit protocol of the Python-written file sinks (reference:
``MRC/lib/output/FileOutputCommitter.java:1``). Each task attempt writes
its part under ``<path>/_temporary-<job>/<attempt>/``, hidden from readers
by the ``_``. Once the job has succeeded, the driver deletes the target's
``part-*`` entries and moves each staged part to its final name; a failed
job removes its staging dir and leaves the target as it was.
"""

from __future__ import annotations

import glob
import itertools
import os
import shutil
import uuid
from collections.abc import Callable, Iterator
from contextlib import contextmanager

from pyspark.sql import DataFrame


def new_staging(path: str, job_id: str | None = None) -> str:
    """Create and return the job's staging directory under ``path``."""
    staging = os.path.join(path, f"_temporary-{job_id or uuid.uuid4().hex[:8]}")
    os.makedirs(staging)
    return staging


def attempt_part(staging: str, name: str) -> str:
    """Task side: the staged path of this task attempt's part ``name``. The
    attempt dir is made without parents, so a task that outlives an aborted
    job cannot bring the staging dir back."""
    from pyspark import TaskContext

    attempt = os.path.join(staging, str(TaskContext.get().taskAttemptId()))
    os.mkdir(attempt)
    return os.path.join(attempt, name)


def promote(staging: str, staged: list[str], overwrite: bool = True) -> None:
    """Driver side, after the job succeeded: with ``overwrite``, delete the
    target's parts and the ``.part-*.crc`` checksums Hadoop's local
    filesystem keeps beside them; then move each staged part to its
    basename in the target, and remove the staging dir."""
    path = os.path.dirname(staging)
    if overwrite:
        for old in glob.glob(os.path.join(path, "part-*")) + glob.glob(
            os.path.join(path, ".part-*.crc")
        ):
            if os.path.isdir(old):
                shutil.rmtree(old)
            else:
                os.remove(old)
    for part in staged:
        os.replace(part, os.path.join(path, os.path.basename(part)))
    abort(staging)


def abort(staging: str) -> None:
    shutil.rmtree(staging, ignore_errors=True)


@contextmanager
def job(path: str) -> Iterator[str]:
    """A staging dir for one job, removed if the body raises; the body ends
    with :func:`promote`."""
    staging = new_staging(path)
    try:
        yield staging
    except BaseException:
        abort(staging)
        raise


def write_parts(
    df: DataFrame, path: str, encode: Callable[[Iterator, str, int], int], ext: str = ""
) -> int:
    """Replace the parts under ``path`` by ``part-NNNNN<ext>``, one per
    non-empty partition of ``df``; returns the number of records.
    ``encode(batches, part, pid)`` writes partition ``pid``'s pandas batches
    to the staged path ``part`` and returns their record count. An empty
    output gets one header-only ``part-00000<ext>``, encoded from no
    batches, as Hadoop's output formats write one."""
    with job(path) as staging:

        def run(batches):
            import pandas as pd
            from pyspark import TaskContext

            first = next(batches, None)
            if first is None:
                return
            pid = TaskContext.get().partitionId()
            part = attempt_part(staging, f"part-{pid:05d}{ext}")
            n = encode(itertools.chain([first], batches), part, pid)
            yield pd.DataFrame({"staged": [part], "n_records": [n]})

        done = df.mapInPandas(run, "staged string, n_records long").collect()
        staged = [r.staged for r in done]
        total = sum(r.n_records for r in done)
        if total == 0:
            staged = [os.path.join(staging, f"part-00000{ext}")]
            encode(iter(()), staged[0], 0)
        promote(staging, staged)
    return total
