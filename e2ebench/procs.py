"""Process bookkeeping through /proc: what a run started, how much memory
it held, and making sure all of it is gone when the run returns.

The engine runs in a child started as the leader of a new session, so
its JVM and the JVM's PySpark workers share the child's session id even
after the child itself exits. The session id, not the parent pid, is
what finds stragglers.
"""

from __future__ import annotations

import os
import signal
import time


def _stat_fields(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name is parenthesised and may contain spaces
    return raw[raw.rindex(")") + 2:].split()


def session_members(sid: int) -> list[int]:
    """Live (non-zombie) processes whose session id is ``sid``."""
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        fields = _stat_fields(int(name))
        # fields[0] is the state, fields[3] the session id
        if fields and fields[0] != "Z" and int(fields[3]) == sid:
            out.append(int(name))
    return out


def kill_session(sid: int, timeout_s: float = 10.0) -> list[int]:
    """SIGKILL every member of session ``sid`` and wait, up to
    ``timeout_s``, until none is left. Returns the pids still alive."""
    deadline = time.monotonic() + timeout_s
    while True:
        alive = session_members(sid)
        if not alive or time.monotonic() > deadline:
            return alive
        for pid in alive:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        time.sleep(0.05)


def wait_gone(pids: list[int], timeout_s: float) -> list[int]:
    """Wait until none of ``pids`` is alive; returns those still alive."""
    deadline = time.monotonic() + timeout_s
    while True:
        alive = [p for p in pids if _stat_fields(p) and _stat_fields(p)[0] != "Z"]
        if not alive or time.monotonic() > deadline:
            return alive
        time.sleep(0.05)


def peak_rss_mb(pids: list[int]) -> float:
    """Sum of the peak resident set sizes (VmHWM) of ``pids``, in MiB."""
    total_kb = 0
    for pid in pids:
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            pass
    return total_kb / 1024.0


def reset_peak_rss(pids: list[int]) -> None:
    """Restart the peak-RSS high-water mark of ``pids`` at their current
    RSS (writing 5 to clear_refs); a process the kernel refuses keeps its
    mark."""
    for pid in pids:
        try:
            with open(f"/proc/{pid}/clear_refs", "w") as f:
                f.write("5")
        except OSError:
            pass


def cpu_ticks() -> tuple[int, int]:
    """(steal, total) CPU ticks of the host since boot, from /proc/stat.
    Steal is time the hypervisor ran something else while this machine's
    CPUs had work: a share of it over a window says how much of a slow
    run was the host, not the program."""
    with open("/proc/stat") as f:
        fields = [int(x) for x in f.readline().split()[1:]]
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8])


def steal_share(start: tuple[int, int], end: tuple[int, int]) -> float:
    total = end[1] - start[1]
    return (end[0] - start[0]) / total if total > 0 else 0.0
