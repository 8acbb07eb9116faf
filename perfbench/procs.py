"""Child processes of a benchmark run."""

from __future__ import annotations

import json
import os
import queue
import signal
import subprocess
import threading
import time
from pathlib import Path

from common import PROTOCOL


class Worker:
    """A child process in its own process group, speaking the @@BENCH
    protocol on stdout; stderr goes to a log file in the run directory."""

    def __init__(self, argv: list[str], run_dir: Path, env: dict[str, str], name: str):
        self.log_path = run_dir / f"{name}.log"
        self._log = open(self.log_path, "wb")
        self.t_start = time.perf_counter()
        self.proc = subprocess.Popen(
            argv,
            cwd=run_dir,
            env=env,
            stdin=subprocess.PIPE,
            stdout=subprocess.PIPE,
            stderr=self._log,
            start_new_session=True,
            text=True,
        )
        self.lines: queue.Queue = queue.Queue()
        threading.Thread(target=self._pump, daemon=True).start()

    def _pump(self) -> None:
        for line in self.proc.stdout:
            if line.startswith(PROTOCOL):
                self.lines.put(line[len(PROTOCOL):].rstrip("\n"))
        self.lines.put(None)

    def expect(self, kind: str, timeout: float):
        """Wait for the next protocol line of ``kind``; returns (payload,
        perf_counter at arrival)."""
        deadline = time.monotonic() + timeout
        while True:
            left = deadline - time.monotonic()
            if left <= 0:
                raise RuntimeError(f"timed out waiting for {kind}")
            try:
                line = self.lines.get(timeout=left)
            except queue.Empty:
                raise RuntimeError(f"timed out waiting for {kind}") from None
            now = time.perf_counter()
            if line is None:
                raise RuntimeError(f"worker exited before {kind}")
            head, _, rest = line.partition(" ")
            if head == kind:
                return (json.loads(rest) if rest else None), now

    def log_tail(self, n: int = 40) -> str:
        self._log.flush()
        try:
            return "\n".join(self.log_path.read_text(errors="replace").splitlines()[-n:])
        except OSError:
            return ""

    def _group_alive(self) -> bool:
        self.proc.poll()  # reap the worker itself, so a zombie does not count
        try:
            os.killpg(self.proc.pid, 0)
        except ProcessLookupError:
            return False
        return True

    def stop(self, grace: float = 20.0) -> None:
        """Close stdin (the worker's cue to exit), then make sure nothing of
        its process group survives: the JVM and Python workers included."""
        try:
            self.proc.stdin.close()
        except OSError:
            pass
        try:
            self.proc.wait(timeout=grace)
        except subprocess.TimeoutExpired:
            pass
        for sig in (signal.SIGTERM, signal.SIGKILL):
            if not self._group_alive():
                break
            try:
                os.killpg(self.proc.pid, sig)
            except ProcessLookupError:
                break
            deadline = time.monotonic() + 5
            while self._group_alive() and time.monotonic() < deadline:
                time.sleep(0.05)
        self.proc.wait()
        self._log.close()
