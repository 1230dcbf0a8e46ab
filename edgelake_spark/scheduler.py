"""Task scheduler — the reference's repeatable-job family.

Reference surface (edge_lake/cmd/member_cmd.py:11961-12120, `run
scheduler` / `schedule time = .. task ..` / `task stop|resume|remove|
init|run where ..` / `get scheduler`; task store in
edge_lake/job/task_scheduler.py:253-370, task state in
edge_lake/job/sche_task.py:14-62). The reference dedicates a daemon
thread per scheduler that wakes every ``wake_time`` seconds and pushes
due task strings onto the node's command queue.

Here a :class:`TaskScheduler` holds the task table and exposes a
deterministic :meth:`tick` (run everything due at ``now``) so tests and
embedders control time explicitly; :meth:`start` wraps the same tick in
a daemon thread for reference-parity interactive use. Task commands run
through the engine's ``run`` — i.e. any EdgeLake command the engine
accepts (sql, admin, `process <script>`) can be scheduled, exactly like
the reference's command-queue dispatch.

Scale note: the scheduler is node-local control plane (a dict of a few
task rows + one thread) — nothing here touches the data path, so there
is nothing to distribute; the scheduled *commands* are ordinary Spark
plans that scale like any other query.
"""

from __future__ import annotations

import threading
from dataclasses import dataclass, field
from datetime import datetime, timedelta

from edgelake_spark.dialect.timefns import apply_time_modifier, utc_now


@dataclass
class ScheduledTask:
    """One repeatable task (reference sche_task.py:14-62)."""

    task_id: int
    name: str | None
    start_time: datetime
    repeat_seconds: int
    command: str
    #: mirrors sche_task.ScheduledTask.mode (reference sche_task.py:37 +
    #: change_task_mode): Active → runs when due; Stopped → retained but
    #: skipped; Removed → slot reusable.
    mode: str = "Active"
    run_counter: int = 0
    last_error: str | None = None
    next_run: datetime | None = None
    last_result: object = field(default=None, repr=False)

    def __post_init__(self):
        if self.next_run is None:
            self.next_run = self.start_time

    @property
    def run_status(self) -> str:
        if not self.run_counter:
            return "No runs"
        return "Failed: " + self.last_error if self.last_error else "Success"


class TaskScheduler:
    """Task table + tick loop for one scheduler id.

    ``runner`` is any ``callable(command_str)`` — normally
    ``EdgeLakeEngine.run``. ``clock`` is injectable for deterministic
    tests (defaults to UTC wall clock).
    """

    def __init__(self, sched_id: int = 1, runner=None, clock=None):
        self.sched_id = sched_id
        self.runner = runner
        self.clock = clock or utc_now
        self.tasks: list[ScheduledTask] = []
        self._thread: threading.Thread | None = None
        self._stop_evt = threading.Event()

    # ------------------------------------------------------------ tasks

    def add_task(
        self,
        command: str,
        repeat_seconds: int,
        name: str | None = None,
        start: datetime | str | None = None,
    ) -> ScheduledTask:
        """Register a repeatable task (reference get_new_task,
        task_scheduler.py:253-281 — removed slots are reused, names must
        be unique)."""
        if name and self.get_task(name=name):
            raise ValueError(f"Duplicate task name: '{name}'")
        start_dt = self._resolve_start(start)
        # reuse a Removed slot first, like the reference
        for i, t in enumerate(self.tasks):
            if t.mode == "Removed":
                task = ScheduledTask(t.task_id, name, start_dt, repeat_seconds, command)
                self.tasks[i] = task
                return task
        task = ScheduledTask(len(self.tasks) + 1, name, start_dt, repeat_seconds, command)
        self.tasks.append(task)
        return task

    def _resolve_start(self, start) -> datetime:
        if start is None:
            return self.clock()
        if isinstance(start, datetime):
            return start
        s = str(start).strip()
        if s.startswith(("+", "-")):
            # reference `start = +1d` style modifier on current time
            return apply_time_modifier(self.clock(), s)
        return datetime.fromisoformat(s)

    def get_task(self, name: str | None = None, task_id: int | None = None):
        for t in self.tasks:
            if t.mode == "Removed":
                continue
            if name is not None and t.name == name:
                return t
            if task_id is not None and t.task_id == task_id:
                return t
        return None

    def change_mode(self, operation: str, name=None, task_id=None, start=None) -> ScheduledTask:
        """task stop/resume/remove/init/run (reference _process_task,
        member_cmd.py:12070-12120 + change_task_mode)."""
        task = self.get_task(name=name, task_id=task_id)
        if task is None:
            raise ValueError("Task not found")
        if operation == "stop":
            task.mode = "Stopped"
        elif operation == "resume":
            task.mode = "Active"
        elif operation == "remove":
            task.mode = "Removed"
        elif operation == "init":
            # re-arm: reset the next run (optionally to a new start)
            task.next_run = self._resolve_start(start)
            task.mode = "Active"
        elif operation == "run":
            # force an immediate execution on the next tick
            task.next_run = self.clock()
        else:
            raise ValueError(f"Unknown task operation: {operation}")
        return task

    # ------------------------------------------------------------- tick

    def tick(self, now: datetime | None = None) -> list[ScheduledTask]:
        """Run every Active task whose next_run <= now; returns the
        tasks that ran. Errors are captured per-task (the reference
        records last_ret_value and keeps scheduling)."""
        now = now or self.clock()
        ran = []
        for task in self.tasks:
            if task.mode != "Active" or task.next_run is None or task.next_run > now:
                continue
            try:
                task.last_result = self.runner(task.command) if self.runner else None
                task.last_error = None
            except Exception as exc:  # keep scheduling like the reference
                task.last_error = str(exc)
            task.run_counter += 1
            task.next_run = now + timedelta(seconds=max(task.repeat_seconds, 1))
            ran.append(task)
        return ran

    # ----------------------------------------------------------- thread

    def start(self, wake_seconds: float = 10.0) -> None:
        """Daemon tick thread (reference schedule_server,
        task_scheduler.py:127)."""
        if self._thread and self._thread.is_alive():
            return
        self._stop_evt.clear()

        def _loop():
            while not self._stop_evt.wait(wake_seconds):
                self.tick()

        self._thread = threading.Thread(
            target=_loop, name=f"el-scheduler-{self.sched_id}", daemon=True
        )
        self._thread.start()

    @property
    def running(self) -> bool:
        return bool(self._thread and self._thread.is_alive())

    def stop(self) -> None:
        self._stop_evt.set()
        if self._thread:
            self._thread.join(timeout=5)
            self._thread = None

    # ------------------------------------------------------------- info

    def snapshot(self) -> list[tuple]:
        """Rows for `get scheduler` (reference show_info,
        task_scheduler.py:332-367)."""
        rows = []
        for t in self.tasks:
            if t.mode == "Removed":
                continue
            rows.append(
                (
                    self.sched_id,
                    t.task_id,
                    t.mode,
                    t.name or "",
                    t.run_counter,
                    t.run_status,
                    t.start_time.isoformat(sep=" "),
                    t.repeat_seconds,
                    t.command,
                )
            )
        return rows


def parse_interval_seconds(text: str) -> int:
    """``10 seconds`` / ``1 minute`` / ``2 hours`` → seconds (the
    reference's int.time keyword type, interpreter.get_dict_from_words)."""
    import re

    m = re.match(r"\s*(\d+)\s*([a-zA-Z]+)?\s*$", text)
    if not m:
        raise ValueError(f"Bad time interval: {text!r}")
    n = int(m.group(1))
    unit = (m.group(2) or "second").lower().rstrip("s")
    table = {"second": 1, "sec": 1, "minute": 60, "min": 60, "hour": 3600, "day": 86400}
    if unit not in table:
        raise ValueError(f"Bad time unit: {unit!r}")
    return n * table[unit]
