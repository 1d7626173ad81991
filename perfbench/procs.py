"""The processes of one session: the timed worker, its JVM and the
JVM's Python workers all share the session ``run.py`` starts."""

from __future__ import annotations

import os


def session_procs(sid: int) -> list[tuple[int, str]]:
    """(pid, command name) of every live process in session ``sid``."""
    out = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        comm = stat[stat.index("(") + 1:stat.rindex(")")]
        if int(stat[stat.rindex(")") + 2:].split()[3]) == sid:
            out.append((int(pid), comm))
    return out
