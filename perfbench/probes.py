"""Measurements that need no Spark job: host calibration, the codec
microprobe, process-tree RSS and on-disk index bytes."""

from __future__ import annotations

import hashlib
import os
import statistics
import threading
import time

import numpy as np


def host_calibration() -> dict:
    """The frozen bench.py's host probe, unrounded: single-thread sha256
    over 256 MB, and the median of five ~1.5 GB memory traversals. Run
    before Spark starts, with every run, so a reader can tell host
    drift from an engine change."""
    blk = b"\x5a" * (8 << 20)
    t0 = time.perf_counter()
    h = hashlib.sha256()
    for _ in range(32):
        h.update(blk)
    cpu = time.perf_counter() - t0
    a = np.arange(1 << 26, dtype=np.int64)
    reps, s = [], 0
    for _ in range(5):
        t0 = time.perf_counter()
        s += int((a + 1).sum())
        reps.append(time.perf_counter() - t0)
    if s == 0 or not h.digest():
        raise RuntimeError("calibration work was optimised away")
    return {"host.sha256_256mb_s": cpu,
            "host.membw_1gb_s": statistics.median(reps)}


def codec_speed(gaps: list, reps: int = 3) -> dict:
    """Single-thread varbyte encode and decode speed, MB of encoded
    bytes per second, over the given gap arrays: encode is
    `vb_encode_with_lengths` per list; decode is the query path's
    `flat_decode` of one Arrow binary column of all lists followed by
    `segmented_cumsum` back to absolute docIDs. Best of `reps`."""
    import pyarrow as pa

    from information_retrieval_spark import codec

    lens = np.array([len(g) for g in gaps], dtype=np.int64)
    blobs = [codec.vb_encode_with_lengths(g)[0] for g in gaps]
    col = pa.array(blobs, type=pa.binary())
    n_bytes = sum(len(b) for b in blobs)
    enc, dec = [], []
    for _ in range(reps):
        t0 = time.perf_counter()
        for g in gaps:
            codec.vb_encode_with_lengths(g)
        enc.append(time.perf_counter() - t0)
        t0 = time.perf_counter()
        out = codec.segmented_cumsum(
            codec.flat_decode(col, len(blobs)).astype(np.int64), lens)
        dec.append(time.perf_counter() - t0)
    if not np.array_equal(out, np.concatenate([np.cumsum(g) for g in gaps])):
        raise RuntimeError("codec round trip changed the docIDs")
    return {"codec.encode_mb_per_s": n_bytes / 1e6 / min(enc),
            "codec.decode_mb_per_s": n_bytes / 1e6 / min(dec)}


def _children(pid: int) -> list:
    """Child pids of every thread of `pid` (the JVM forks its worker
    daemon from an executor thread, not its main thread)."""
    out = []
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return out
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/children") as f:
                out.extend(int(c) for c in f.read().split())
        except OSError:
            continue
    return out


def _status_kb(pid: int, field: str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith(field):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """High-water RSS of the JVM plus its Python workers. The JVM's own
    peak is the kernel's exact VmHWM; the workers (forked and reaped by
    the JVM's worker daemon) are summed by a 10 Hz sampler thread and
    their highest sum is added."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid
        self.workers_peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()

    def _loop(self) -> None:
        while not self._stop.wait(0.1):
            todo, total = _children(self.jvm_pid), 0
            while todo:
                pid = todo.pop()
                total += _status_kb(pid, "VmRSS:")
                todo.extend(_children(pid))
            self.workers_peak_kb = max(self.workers_peak_kb, total)

    def jvm_peak_mb(self) -> float:
        return _status_kb(self.jvm_pid, "VmHWM:") / 1024.0

    def workers_peak_mb(self) -> float:
        return self.workers_peak_kb / 1024.0

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)


def tree_cpu_s(pid: int) -> float:
    """CPU seconds (user + system) used so far by `pid` and its live
    descendants, their reaped children included."""
    total, todo = 0, [pid]
    while todo:
        p = todo.pop()
        try:
            with open(f"/proc/{p}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in fields[11:15])  # utime..cstime
        todo.extend(_children(p))
    return total / os.sysconf("SC_CLK_TCK")


def cpu_ticks() -> tuple:
    """(steal, total) jiffies of the host's CPUs so far, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals[:8])


def dir_bytes(path: str) -> tuple:
    """(bytes, files) of the data files under `path`, recursively."""
    total = files = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            if name.startswith((".", "_")):
                continue  # checksums and commit markers
            total += os.path.getsize(os.path.join(root, name))
            files += 1
    return total, files
