"""Seeded FTP-style listings for the ingest workload, their goldens, and
the ``Fetcher`` the engine's fetch stage calls to read them.

A cycle is one cron-style ingest run over a listing of files spread over
three fake servers. Every file is a pure function of ``(seed, file_id)``,
so a cycle can be rebuilt from its seed and number alone:

- sizes are heavy-tailed (Pareto, capped at 1 MB), about 10% of files are
  zip archives;
- cycle ``k`` repeats a share of cycle ``k-1``'s files byte for byte, with
  the same mtime, so the engine's dedup-skip against the sink fires;
- a few files are listed but missing, or listed with the wrong size, so
  the fetch and integrity stages quarantine them;
- basenames repeat across directories and zip members repeat across
  archives, as in real FTP trees. The blob sink keys objects by
  ``{server_folder}/{file_type}/{file_name}``, so such files collide there.

The goldens are computed from the generated bytes with hashlib and a
Python twin of the engine's file-name sanitizer, never by the engine.
"""

from __future__ import annotations

import calendar
import hashlib
import io
import os
import re
import zipfile
from dataclasses import dataclass

import numpy as np

from data_ingestion_poc_spark.ingest.pipeline import Fetcher

SERVERS = (
    ("ftp://bench:pw@ftp-a.bench:2121", "ftp-a.bench", "ftp-a.bench_2121"),
    ("sftp://bench:pw@sftp-b.bench", "sftp-b.bench", "sftp-b.bench_22"),
    ("ftp://bench:pw@ftp-c.bench", "ftp-c.bench", "ftp-c.bench_21"),
)
DIRS = ("/inbox", "/2024/01", "/2024/02", "/2024/03", "/export/daily", "/drop/été")
COMMON_NAMES = (
    "report.csv", "data.json", "index.html", "summary.txt", "export.xml",
    "Rapport final.csv", "notes.txt", "image.png", "résumé.txt",
)
MEMBER_NAMES = ("manifest.xml", "part-0.csv", "part-1.csv", "README.txt")
EXTS = ("csv", "json", "txt", "bin", "log", "dat", "gz", "xml")

#: shares of the listing
ZIP_SHARE = 0.10
COMMON_NAME_SHARE = 0.25
REPEAT_SHARE = 0.15
MISSING_SHARE = 0.015
BAD_SIZE_SHARE = 0.015


def sanitize(name: str) -> str:
    """Python twin of the engine's file-name sanitizer (``sanitize_col``)."""
    name = re.sub(r"[^\x00-\x7F]", "-", name)
    name = re.sub(r"[^A-Za-z0-9\.\-_ ]", "-", name)
    name = re.sub(r"[\x00-\x1F\x7F]", "-", name)
    return name.strip(" ")


def file_type(name: str) -> str:
    return name.rsplit(".", 1)[-1] if "." in name else "none"


def _payload(rng: np.random.Generator, size: int, text: bool) -> bytes:
    if text:
        return rng.integers(32, 127, size, dtype=np.uint8).tobytes()
    return rng.bytes(size)


def _size(rng: np.random.Generator, scale: int) -> int:
    return int(min(1_000_000, scale * (1.0 + rng.pareto(1.6))))


@dataclass(frozen=True)
class SourceFile:
    """One listed file: where it lives, what it holds and its fault."""

    file_id: int
    server: str
    host: str
    server_folder: str
    remote_path: str
    mtime: int
    content: bytes
    members: tuple  # (name, bytes, DOS date_time) per zip member; () if plain
    fault: str  # "", "missing" or "bad_size"

    @property
    def listed_size(self) -> int:
        return len(self.content) + (1 if self.fault == "bad_size" else 0)


def source_file(seed: int, file_id: int) -> SourceFile:
    rng = np.random.default_rng([seed, file_id])
    server, host, folder = SERVERS[int(rng.integers(0, len(SERVERS)))]
    directory = DIRS[int(rng.integers(0, len(DIRS)))]
    mtime = 1_700_000_000 + int(rng.integers(0, 10_000_000))
    u = rng.random()
    fault = "missing" if u < MISSING_SHARE else (
        "bad_size" if u < MISSING_SHARE + BAD_SIZE_SHARE else "")
    members: tuple = ()
    if rng.random() < ZIP_SHARE:
        name = f"batch_{file_id}.zip"
        picked = []
        for j in range(int(rng.integers(2, 7))):
            if j < len(MEMBER_NAMES) and rng.random() < 0.5:
                mname = MEMBER_NAMES[j]
            else:
                mname = f"m{file_id}_{j}.{EXTS[int(rng.integers(0, len(EXTS)))]}"
            dt = (2020 + int(rng.integers(0, 5)), int(rng.integers(1, 13)),
                  int(rng.integers(1, 29)), int(rng.integers(0, 24)),
                  int(rng.integers(0, 60)), 2 * int(rng.integers(0, 30)))
            picked.append((mname, _payload(rng, _size(rng, 1500), True), dt))
        members = tuple(picked)
        buf = io.BytesIO()
        with zipfile.ZipFile(buf, "w", zipfile.ZIP_STORED) as zf:
            for mname, blob, dt in members:
                zf.writestr(zipfile.ZipInfo(mname, date_time=dt), blob)
        content = buf.getvalue()
    else:
        if rng.random() < COMMON_NAME_SHARE:
            name = COMMON_NAMES[int(rng.integers(0, len(COMMON_NAMES)))]
        else:
            name = f"f{file_id}.{EXTS[int(rng.integers(0, len(EXTS)))]}"
        content = _payload(rng, _size(rng, 2000), name.endswith((".csv", ".txt", ".json")))
        if name in COMMON_NAMES:  # one file per path: common names get their own folder
            directory = f"{directory}/{file_id}"
    return SourceFile(file_id, server, host, folder, f"{directory}/{name}",
                      mtime, content, members, fault)


def cycle_file_ids(seed: int, cycle: int, n_files: int) -> list[int]:
    """File ids listed in ``cycle``: ``n_files`` new ones, plus a share of
    the previous cycle's new files listed again unchanged."""
    ids = list(range(cycle * n_files, (cycle + 1) * n_files))
    if cycle > 0:
        rng = np.random.default_rng([seed, 1_000_003, cycle])
        prev = np.arange((cycle - 1) * n_files, cycle * n_files)
        ids += sorted(int(i) for i in rng.choice(prev, int(REPEAT_SHARE * n_files), replace=False))
    return ids


def member_mtime(date_time: tuple) -> int:
    return calendar.timegm(tuple(date_time) + (0, 0, 0))


@dataclass
class Cycle:
    """A generated cycle on disk plus everything the checks expect of it."""

    root: str
    files: list[SourceFile]
    manifest: list[tuple[str, str]]
    listed_sizes: dict[tuple[str, str], int]
    #: (server, remote_path) -> error kind for every file the engine must quarantine
    quarantine: dict[tuple[str, str], str]
    #: every record the fetch + explode stages produce, before dedup
    records: list[tuple]
    #: the records the sink must hold after dedup-skip against the previous cycle
    written: list[tuple]
    input_bytes: int
    #: fake host name -> local directory serving it
    host_roots: dict[str, str]


RECORD_COLUMNS = ("server_folder", "file_type", "file_name", "length",
                  "modified_time", "from_archive", "sha256")


def _records(f: SourceFile) -> list[tuple]:
    if f.members:
        directory = os.path.dirname(f.remote_path)
        out = []
        for mname, blob, dt in f.members:
            name = sanitize(f"{directory}/{mname}".rsplit("/", 1)[-1])
            out.append((f.server_folder, file_type(name), name, len(blob),
                        member_mtime(dt), f.remote_path, hashlib.sha256(blob).hexdigest()))
        return out
    name = sanitize(f.remote_path.rsplit("/", 1)[-1])
    return [(f.server_folder, file_type(name), name, len(f.content), f.mtime, "",
             hashlib.sha256(f.content).hexdigest())]


def build_cycle(root: str, seed: int, cycle: int, n_files: int,
                prev_written: list[tuple] | None = None) -> Cycle:
    """Write cycle ``cycle``'s listing under ``root`` and compute its goldens.

    ``prev_written`` is the previous cycle's golden sink content: records
    whose (file_name, length, modified_time) identity is already there are
    expected to be skipped.
    """
    files = [source_file(seed, i) for i in cycle_file_ids(seed, cycle, n_files)]
    host_roots = {host: os.path.join(root, host) for _, host, _ in SERVERS}
    for f in files:
        if f.fault == "missing":
            continue
        local = host_roots[f.host] + f.remote_path
        os.makedirs(os.path.dirname(local), exist_ok=True)
        with open(local, "wb") as fh:
            fh.write(f.content)
        os.utime(local, (f.mtime, f.mtime))
    quarantine = {
        (f.server, f.remote_path): "FileNotFoundError" if f.fault == "missing" else "size mismatch"
        for f in files if f.fault
    }
    records = [r for f in files if not f.fault for r in _records(f)]
    seen = {(r[2], r[3], r[4]) for r in (prev_written or [])}
    written = [r for r in records if (r[2], r[3], r[4]) not in seen]
    return Cycle(
        root=root,
        files=files,
        manifest=[(f.server, f.remote_path) for f in files],
        listed_sizes={(f.server, f.remote_path): f.listed_size for f in files},
        quarantine=quarantine,
        records=records,
        written=written,
        input_bytes=sum(len(f.content) for f in files if f.fault != "missing"),
        host_roots=host_roots,
    )


_HOST_RE = re.compile(r"^[a-z]+://(?:[^@/]+@)?([^:/]+)")


class ListingFetcher(Fetcher):
    """Serves a generated listing from local directories.

    ``stat`` answers with the size the listing states, which differs from
    the bytes on disk for ``bad_size`` files, and the file's mtime; a
    missing file raises ``FileNotFoundError``. Instances are pickled into
    the fetch stage, so the class lives in an importable module. The two
    accumulators count what the executors actually read.
    """

    def __init__(self, host_roots: dict[str, str], listed_sizes: dict, read_bytes=None,
                 read_files=None):
        self.host_roots = host_roots
        self.listed_sizes = listed_sizes
        self.read_bytes = read_bytes
        self.read_files = read_files

    def _local(self, server: str, remote_path: str) -> str:
        return self.host_roots[_HOST_RE.match(server).group(1)] + remote_path

    def stat(self, server: str, remote_path: str) -> tuple[int, int]:
        st = os.stat(self._local(server, remote_path))
        return self.listed_sizes[(server, remote_path)], int(st.st_mtime)

    def read(self, server: str, remote_path: str) -> bytes:
        with open(self._local(server, remote_path), "rb") as fh:
            data = fh.read()
        if self.read_bytes is not None:
            self.read_bytes.add(len(data))
            self.read_files.add(1)
        return data
