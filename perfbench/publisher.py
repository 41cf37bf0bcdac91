"""Open-loop file publisher for the live streaming workload.

The publisher is a component separate from the system under test: it
drops one CSV file into the watched directory on a fixed schedule that
does not slow down when the pipeline does.  Each file is written with
``EventGenerator.write_csv`` into a staging directory *outside* the
watched one and then renamed in, so the file source only ever lists
complete ``.csv`` files.  (``write_csv`` on its own writes its
``<name>.csv.tmp`` inside the directory it is given; pointed at a
watched directory, a file listing between the write and the rename
admits the temporary file, which is gone when the epoch reads it.)

Each file carries fresh ``EventGenerator`` events (2% anomalies, 5%
late) plus a fixed share of rows copied verbatim from earlier files, so
the pipeline's dedup stage has redeliveries to drop.  Event contents are
a pure function of the seed; the event timestamps follow the wall clock,
as the generator's do.
"""

from __future__ import annotations

import os
import random
import threading
import time
from dataclasses import dataclass, field

from spark_streaming_postgres_lab2_spark.sources.datagen import EventGenerator

from host import thread_cpu_s


@dataclass
class Published:
    name: str
    rows: int
    due: float  # wall time the schedule says the file is sent
    at: float  # wall time the rename into the watched directory returned


@dataclass
class FileSchedule:
    """The files to publish, fully generated up front."""

    batches: list[list[dict]]
    redelivered: int  # rows copied from earlier files, over all files

    @classmethod
    def generate(cls, seed: int, files: int, events_per_file: int,
                 redeliver_share: float) -> "FileSchedule":
        gen = EventGenerator(seed=seed)
        pick = random.Random(seed + 1)
        batches: list[list[dict]] = []
        redelivered = 0
        for _ in range(files):
            events = gen.generate_batch(events_per_file)
            if batches:
                k = int(events_per_file * redeliver_share)
                earlier = [e for b in batches[-5:] for e in b]
                events.extend(pick.sample(earlier, min(k, len(earlier))))
                redelivered += min(k, len(earlier))
            batches.append(events)
        return cls(batches, redelivered)


@dataclass
class Publisher:
    """Publishes ``schedule`` into ``watched`` every ``interval_s``
    seconds, starting at ``start`` (wall time), on its own thread."""

    schedule: FileSchedule
    watched: str
    staging: str
    interval_s: float
    prefix: str = "events"
    published: list[Published] = field(default_factory=list)
    writer: EventGenerator = field(default_factory=EventGenerator)
    error: BaseException | None = None
    native_id: int = 0
    _stop: threading.Event = field(default_factory=threading.Event)
    _thread: threading.Thread | None = None

    def publish_now(self, index: int, due: float) -> Published:
        events = self.schedule.batches[index]
        name = f"{self.prefix}-{index:05d}.csv"
        self.writer.write_csv(events, self.staging, name)
        os.rename(os.path.join(self.staging, name), os.path.join(self.watched, name))
        rec = Published(name, len(events), due, time.time())
        self.published.append(rec)
        return rec

    def _run(self, start: float, first: int) -> None:
        self.native_id = threading.get_native_id()
        try:
            for i in range(first, len(self.schedule.batches)):
                due = start + (i - first) * self.interval_s
                if self._stop.wait(max(0.0, due - time.time())):
                    return
                self.publish_now(i, due)
        except BaseException as exc:  # reported by stop(); the run counts it failed
            self.error = exc

    def start(self, start: float, first: int = 0) -> None:
        os.makedirs(self.staging, exist_ok=True)
        os.makedirs(self.watched, exist_ok=True)
        self._thread = threading.Thread(
            target=self._run, args=(start, first), name="publisher", daemon=True
        )
        self._thread.start()

    def cpu_s(self) -> float:
        """CPU seconds the publisher thread has used so far."""
        return thread_cpu_s(self.native_id) if self.native_id else 0.0

    def stop(self, timeout: float = 10.0) -> None:
        """Stop publishing and wait for the thread to end."""
        assert self._thread is not None
        self._stop.set()
        self._thread.join(timeout)
        if self._thread.is_alive():
            raise TimeoutError("publisher thread did not stop")
        if self.error is not None:
            raise RuntimeError("publisher failed") from self.error

    def lateness_s(self, first: int = 0) -> list[float]:
        """How late each scheduled publish ran, in seconds."""
        return [p.at - p.due for p in self.published[first:]]
