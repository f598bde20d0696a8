"""Seeded generator of raw node telemetry and job accounting CSVs.

The same seed gives byte-identical files.  Layout follows the step-1
reference: one directory per node holding ``block``, ``cpu``,
``llite`` and ``mem`` CSVs, plus one accounting CSV per month.

Every wave carries the raw-input traps the pipeline must handle:

- two devices (block) and two cores (cpu) per node, so the per-
  timestamp rollup runs before the delta;
- one block counter reset (node 0): the negative delta is dropped;
- one duplicated llite sample (node 0): two rows with the same
  timestamp, so the pair is 0 s apart and dropped by the 0.1 s rule;
- one all-zero jiffy interval (node 1): dropped by ``total > 0``;
- ``MemUsed < FilePages`` (node 0): clipped to 0;
- raw job ids as ``jobID123``, ``job123`` and bare ``123`` (by node),
  and all three variants again on the accounting side (by job);
- accounting rows with ``start >= end`` and with an empty end time,
  both dropped by step-2;
- the last sample of every job sits at the job's end, outside the
  half-open ``[start, end)`` interval, so the join drops it.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

import numpy as np

FMT = "%m/%d/%Y %H:%M:%S"
MONTH_START = dt.datetime(2013, 3, 1)
INTERVAL_S = 300
NODES_PER_JOB = 4
JIFFY_COLS = ["user", "nice", "system", "idle", "iowait", "irq", "softirq"]
METRICS = ("block", "cpu", "llite", "mem")
HEADERS = {
    "block": "jobID,node,timestamp,device,rd_sectors,wr_sectors",
    "cpu": "jobID,node,timestamp,device," + ",".join(JIFFY_COLS),
    "llite": "jobID,node,timestamp,read_bytes,write_bytes",
    "mem": "jobID,node,timestamp,MemTotal,MemFree,MemUsed,FilePages",
}
ACCT_HEADER = (
    "jobID,user,account,jobname,queue,nnodes,ncpus,walltime,"
    "start,end,submit,exit_status"
)
GIB = 2**30
ID_PREFIXES = ("jobID", "job", "")


@dataclass(frozen=True)
class Timeline:
    """Samples ``0..total-1`` every INTERVAL_S seconds from ``start``;
    jobs are ``job_len`` samples long, staggered per node group.
    ``day`` keeps job numbers of different timelines apart."""

    day: int
    nodes: int
    total: int
    job_len: int
    start: dt.datetime

    @property
    def groups(self) -> int:
        return -(-self.nodes // NODES_PER_JOB)

    def ts(self, i: int) -> dt.datetime:
        return self.start + dt.timedelta(seconds=INTERVAL_S * i)

    def shift(self, g: int) -> int:
        return (g * 7) % self.job_len

    def job_index(self, g: int, i: np.ndarray) -> np.ndarray:
        return (i + self.shift(g)) // self.job_len

    def job_number(self, g: int, j: int) -> int:
        return 100_000 + self.day * 10_000 + g * 100 + j

    def jobs(self):
        """(number, group, first sample, last sample) of every job."""
        for g in range(self.groups):
            s = self.shift(g)
            for j in range((self.total - 1 + s) // self.job_len + 1):
                first = max(0, j * self.job_len - s)
                last = min(self.total, (j + 1) * self.job_len - s) - 1
                if first <= last:
                    yield self.job_number(g, j), g, first, last


def batch_timeline(day: int, nodes: int, samples: int) -> Timeline:
    """One day of telemetry: ``samples`` samples from 00:02:30 of day
    ``day`` of the month (288 fill the day), two to three jobs per node
    group."""
    start = MONTH_START + dt.timedelta(days=day, seconds=150)
    return Timeline(day, nodes, samples, max(2, samples // 2), start)


def stream_timeline(waves: int, nodes: int, samples: int) -> Timeline:
    """``waves`` consecutive slices of ``samples`` samples; jobs run
    1.5 waves long so the lag state and job rows cross wave edges."""
    start = MONTH_START + dt.timedelta(days=1, minutes=30)
    return Timeline(0, nodes, waves * samples, max(2, samples * 3 // 2), start)


def raw_id(num: int, node: int) -> str:
    """Nodes 0, 1 and 2 of every job write the three id variants."""
    return f"{ID_PREFIXES[node % 3]}{num}"


def acct_id(num: int) -> str:
    return f"{ID_PREFIXES[(num + 1) % 3]}{num}"


def _counters(rng, n: int, hi: int, width: int, resets) -> np.ndarray:
    cum = np.cumsum(rng.integers(0, hi, size=(n, width)), axis=0)
    for r in resets:
        cum[r:] -= cum[r]
    return cum


def _node_series(tl: Timeline, seed: int, node: int, wave_len: int) -> dict:
    """Counter/gauge arrays of one node over the whole timeline; the
    traps recur once per ``wave_len`` slice."""
    rng = np.random.default_rng([seed, tl.day, node])
    n = tl.total
    starts = range(0, n, wave_len)
    resets = [w + wave_len // 3 for w in starts] if node == 0 else []
    block = [_counters(rng, n, 40_000, 2, resets) for _ in range(2)]
    cpu = []
    zero = [w + wave_len // 5 for w in starts] if node == 1 else []
    for _ in range(2):
        share = rng.dirichlet([6, 1, 3, 8, 1, 0.5, 0.5], size=n)
        inc = np.floor(share * INTERVAL_S * 100).astype(np.int64)
        inc[zero] = 0
        cpu.append(np.cumsum(inc, axis=0) + rng.integers(0, 10**6, size=7))
    llite = _counters(rng, n, 50 * 2**20, 2, [])
    used = rng.integers(2 * GIB, 30 * GIB, size=n)
    pages = rng.integers(GIB // 2, 8 * GIB, size=n)
    if node == 0:
        for w in starts:
            used[w + wave_len // 2] = GIB
            pages[w + wave_len // 2] = 4 * GIB
    dup = {w + wave_len // 4 for w in starts} if node == 0 else set()
    return {"block": block, "cpu": cpu, "llite": llite,
            "used": used, "pages": pages, "dup": dup}


def _node_rows(tl: Timeline, node: int, series: dict, lo: int, hi: int):
    """CSV bodies (metric -> list of lines) for samples [lo, hi)."""
    name = node_name(node)
    g = node // NODES_PER_JOB
    idx = np.arange(lo, hi)
    jobs = tl.job_index(g, idx)
    rows = {m: [] for m in METRICS}
    for k, i in enumerate(idx):
        jid = raw_id(tl.job_number(g, int(jobs[k])), node)
        ts = tl.ts(int(i)).strftime(FMT)
        pre = f"{jid},{name},{ts}"
        for d, dev in enumerate(("sda", "sdb")):
            rd, wr = series["block"][d][i]
            rows["block"].append(f"{pre},{dev},{rd},{wr}")
        for c in range(2):
            vals = ",".join(str(v) for v in series["cpu"][c][i])
            rows["cpu"].append(f"{pre},cpu{c},{vals}")
        rb, wb = series["llite"][i]
        rows["llite"].append(f"{pre},{rb},{wb}")
        if i in series["dup"]:
            rows["llite"].append(f"{pre},{rb},{wb}")
        used, pages = series["used"][i], series["pages"][i]
        total = 32 * GIB
        rows["mem"].append(f"{pre},{total},{total - used},{used},{pages}")
    return rows


def node_name(node: int) -> str:
    return f"NODE{node:04d}"


def _write(path: str, header: str, lines: list[str]) -> None:
    with open(path, "w") as f:
        f.write(header + "\n" + "\n".join(lines) + "\n")


@dataclass
class WaveFiles:
    """What one generated wave put on disk."""

    files: int = 0
    raw_rows: int = 0
    waves: int = 1


def _write_node(root: str, node: int, rows: dict, suffix: str,
                out: WaveFiles) -> None:
    """Write one node's four CSVs as ``<metric><suffix>.csv``."""
    d = os.path.join(root, node_name(node))
    os.makedirs(d, exist_ok=True)
    for m in METRICS:
        _write(os.path.join(d, f"{m}{suffix}.csv"), HEADERS[m], rows[m])
        out.files += 1
        out.raw_rows += len(rows[m])


def write_batch_day(root: str, seed: int, day: int, nodes: int,
                    samples: int) -> WaveFiles:
    """One fresh day of telemetry under ``root/<NODE>/<metric>.csv``."""
    tl = batch_timeline(day, nodes, samples)
    out = WaveFiles()
    for node in range(nodes):
        series = _node_series(tl, seed, node, samples)
        _write_node(root, node, _node_rows(tl, node, series, 0, samples),
                    "", out)
    return out


class StreamSource:
    """The stream workload's landing feed: wave ``w`` lands samples
    ``[w*samples, (w+1)*samples)`` of every node as continuation files
    ``<metric>_<w+1:04d>.csv``.  Counters continue across waves."""

    def __init__(self, seed: int, waves: int, nodes: int, samples: int):
        self.timeline = stream_timeline(waves, nodes, samples)
        self.samples = samples
        self._series = [
            _node_series(self.timeline, seed, n, samples)
            for n in range(nodes)
        ]

    def land(self, root: str, wave: int) -> WaveFiles:
        lo = wave * self.samples
        out = WaveFiles()
        for node, series in enumerate(self._series):
            rows = _node_rows(
                self.timeline, node, series, lo, lo + self.samples
            )
            _write_node(root, node, rows, f"_{wave + 1:04d}", out)
        return out


def accounting_lines(timelines) -> list[str]:
    """Accounting rows for every job of ``timelines``, plus one
    ``start >= end`` row and one empty-end row per timeline."""
    lines = []
    for tl in timelines:
        for num, g, first, last in tl.jobs():
            nnodes = min(NODES_PER_JOB, tl.nodes - g * NODES_PER_JOB)
            start = tl.ts(first) - dt.timedelta(seconds=20)
            end = tl.ts(last)
            submit = start - dt.timedelta(minutes=10)
            lines.append(
                f"{acct_id(num)},user{g % 7},acct{g % 3},jn{num},"
                f"{('normal', 'development')[num % 2]},{nnodes},"
                f"{16 * nnodes},86400,{start.strftime(FMT)},"
                f"{end.strftime(FMT)},{submit.strftime(FMT)},"
                f"{('0', '1', 'TIMEOUT')[num % 3]}"
            )
        bad = tl.job_number(tl.groups, 0)
        t0 = tl.ts(0).strftime(FMT)
        lines.append(f"{bad},ghost,acct0,jn{bad},normal,1,16,60,"
                     f"{t0},{t0},{t0},0")
        lines.append(f"job{bad + 1},ghost,acct0,jn{bad + 1},normal,1,16,60,"
                     f"{t0},,{t0},0")
    return lines


def write_accounting(path: str, timelines) -> int:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    lines = accounting_lines(timelines)
    _write(path, ACCT_HEADER, lines)
    return len(lines)
