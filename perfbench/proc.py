"""The process table, read from /proc; shared by run.py and worker.py."""

from __future__ import annotations

import os


def processes() -> dict[int, tuple[int, int, str]]:
    """``pid -> (ppid, pgid, state)`` of every process."""
    out = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                with open(f"/proc/{d}/stat") as f:
                    fields = f.read().rsplit(")", 1)[1].split()
            except OSError:
                continue
            out[int(d)] = (int(fields[1]), int(fields[2]), fields[0])
    return out
