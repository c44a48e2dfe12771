"""End-to-end backfill orchestration (SURVEY.md §3.1-§3.3).

The reference's top entry point (reference run.py:20-41) lists dump keys,
organizes them into latest-per-(month, type), then processes each dump
STRICTLY SEQUENTIALLY on one thread, scaling out only by launching whole
containers per run (reference §3.3: Lambda / AWS Batch, 2 vCPU each).

Spark-shaped: the latest-per-(month, type) pick is plain driver-side
Python over a few filenames (sources.manifest — no Spark job), each dump
is an independent map-only job (gzip is unsplittable → intra-file
parallelism is impossible anyway, exactly the reference's constraint),
and dumps run CONCURRENTLY — a thread pool submits per-dump jobs to the
shared scheduler, which is how one Spark application saturates a cluster
with many single-task file reads.  Checksum verification (reference
process.py:95-173) is preserved as an audit record per dump, not an
inline side effect.
"""

from __future__ import annotations

import hashlib
import os
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from discogs_etl_spark.lake import ingest_dump_to_lake
from discogs_etl_spark.session import local_frame
from discogs_etl_spark.sources.manifest import catalog_entries, checksum_map, latest_dumps


# ranged_download: the byte-range size (the reference splits into >= 1 MB
# ranges, io.py:219-236), the ranged GETs in flight, the tries per range
# (reference io.py:277-310: 5 attempts, doubling delay) and the socket
# timeout of every request — HEAD probe, ranged GET and sequential GET.
CHUNK_SIZE = 8 << 20
MAX_WORKERS = 4
MAX_RETRIES = 5
TIMEOUT_S = 300.0
# backfill: dumps ingested at once, one thread each.
MAX_CONCURRENT_DUMPS = 4


@dataclass(frozen=True)
class DumpResult:
    filename: str
    data_type: str
    lake_path: str
    sha256: str
    checksum_ok: bool | None  # None → no expected checksum known


def _sha256_file(path: str) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


@dataclass(frozen=True)
class LandedDump:
    url: str
    path: str
    sha256: str
    n_bytes: int


def _probe_range_support(url: str) -> int | None:
    """HEAD the URL; return the content length iff the server advertises
    byte-range support (reference io.py:204-217 sizes the download the
    same way before splitting).  ``None`` → fall back to sequential."""
    from urllib.request import Request, urlopen

    req = Request(url, method="HEAD")  # noqa: S310 (caller-supplied URL)
    try:
        with urlopen(req, timeout=TIMEOUT_S) as r:  # noqa: S310
            if r.headers.get("Accept-Ranges", "").lower() != "bytes":
                return None
            length = r.headers.get("Content-Length")
            return int(length) if length is not None else None
    except OSError:
        return None


def _fetch_range(url: str, start: int, end: int) -> bytes:
    """One ranged GET with exponential-backoff retries (MAX_RETRIES
    tries).  ``end`` is inclusive, per RFC 9110 byte-range semantics."""
    import time as _time
    from urllib.request import Request, urlopen

    last_err: Exception | None = None
    for attempt in range(MAX_RETRIES):
        if attempt:  # back off BEFORE retries 2..N, never after the last
            _time.sleep(min(2 ** (attempt - 1) * 0.1, 5.0))
        try:
            req = Request(url, headers={"Range": f"bytes={start}-{end}"})  # noqa: S310
            with urlopen(req, timeout=TIMEOUT_S) as r:  # noqa: S310
                data = r.read()
            if len(data) != end - start + 1:
                raise OSError(
                    f"range {start}-{end}: got {len(data)} bytes, "
                    f"want {end - start + 1}"
                )
            return data
        except OSError as e:  # includes HTTPError/URLError/timeouts
            last_err = e
    raise OSError(f"range {start}-{end} failed after {MAX_RETRIES} tries") from last_err


def ranged_download(url: str, dest: str) -> LandedDump:
    """Parallel ranged-GET download (reference io.py:153-382
    OptimizedDownloader: HEAD for size → split into CHUNK_SIZE ranges →
    bounded-concurrency ranged GETs with retries → assemble; sha256 over
    the assembled bytes).  Servers without byte-range support fall back
    to the sequential streamed path automatically.

    Spark-first placement: landing is a DRIVER-SIDE pre-step — the engine
    never downloads inside executors (SURVEY.md §2.1 S7); at cluster
    scale raw dumps land on object storage once and Spark reads them from
    there.  This exists for the single-node re-landing workflow, where
    ranged parallelism is the difference between link-bound and
    round-trip-bound multi-GB fetches.

    Ranges are written straight into a preallocated ``<name>.part`` file
    at their own offsets (no per-range temp files, unlike the reference's
    concat step), then atomically renamed; a crash never leaves a
    half-visible dump."""
    total = _probe_range_support(url)
    if total is None or total <= CHUNK_SIZE:
        return _sequential_download(url, dest)
    ranges = [
        (start, min(start + CHUNK_SIZE, total) - 1)
        for start in range(0, total, CHUNK_SIZE)
    ]
    tmp = dest + ".part"
    with open(tmp, "wb") as f:
        f.truncate(total)
    lock = __import__("threading").Lock()
    with open(tmp, "r+b") as f:

        def fetch_and_write(r: tuple[int, int]) -> None:
            data = _fetch_range(url, r[0], r[1])
            with lock:
                f.seek(r[0])
                f.write(data)

        with ThreadPoolExecutor(max_workers=MAX_WORKERS) as pool:
            # list() propagates the first worker exception
            list(pool.map(fetch_and_write, ranges))
    sha = _sha256_file(tmp)
    os.replace(tmp, dest)
    return LandedDump(url, dest, sha, total)


def _sequential_download(url: str, dest: str) -> LandedDump:
    """Single-stream GET with inline sha256 (reference process.py:95-173),
    atomic rename on completion.  A server that stops answering raises
    after TIMEOUT_S, as a ranged GET does."""
    from urllib.request import urlopen

    h = hashlib.sha256()
    tmp = dest + ".part"
    with urlopen(url, timeout=TIMEOUT_S) as r, open(tmp, "wb") as f:  # noqa: S310
        while chunk := r.read(1 << 20):
            f.write(chunk)
            h.update(chunk)
    os.replace(tmp, dest)
    return LandedDump(url, dest, h.hexdigest(), os.path.getsize(dest))


def land_dumps(urls: list[str], landing_dir: str) -> list[LandedDump]:
    """Land dump URLs into a local directory with an inline sha256 and
    atomic rename on completion (reference run.py:20-41 goes URL→lake in
    one command).  Every http(s) URL goes through ``ranged_download``,
    which chooses from what the server reports: parallel ranged GETs
    (reference io.py:153-382) when a HEAD advertises byte ranges and a
    size above one chunk, else the sequential streamed GET, which is also
    the path for every other scheme (file:// fixtures).

    Re-runs are incremental: an already-landed file is re-hashed (cheap,
    local) but not re-fetched.  Partial downloads never become visible —
    data streams to ``<name>.part`` and is renamed only after the stream
    ends cleanly."""
    from urllib.parse import urlparse

    os.makedirs(landing_dir, exist_ok=True)
    out: list[LandedDump] = []
    for url in urls:
        name = os.path.basename(urlparse(url).path)
        if not name:
            raise ValueError(f"cannot derive a filename from {url!r}")
        dest = os.path.join(landing_dir, name)
        if os.path.exists(dest):
            out.append(LandedDump(url, dest, _sha256_file(dest), os.path.getsize(dest)))
        elif urlparse(url).scheme in ("http", "https"):
            out.append(ranged_download(url, dest))
        else:
            out.append(_sequential_download(url, dest))
    return out


def backfill_from_urls(
    spark: SparkSession,
    urls: list[str],
    landing_dir: str,
    lake_root: str,
    checksums: DataFrame | None = None,
) -> list[DumpResult]:
    """The reference's one-command story (run.py:20-41): URLs → landing
    dir → parse → partitioned lake, checksum audit included."""
    landed = land_dumps(urls, landing_dir)
    return backfill(spark, [d.path for d in landed], lake_root, checksums=checksums)


def backfill(
    spark: SparkSession,
    dump_paths: list[str],
    lake_root: str,
    checksums: DataFrame | None = None,
) -> list[DumpResult]:
    """Process a set of local/landed dump files into the partitioned lake.

    Concurrency model: one thread per in-flight dump; each thread submits
    a normal Spark job (parse → write), so the scheduler interleaves tasks
    from all dumps across the cluster.  The reference's month-by-month
    serial loop (run.py:28-41) becomes wall-clock-bounded by the LARGEST
    dump instead of the SUM of dumps."""
    expected = (
        checksum_map(checksums.select("filename", "checksum").collect())
        if checksums is not None
        else {}
    )
    path_by_name = {os.path.basename(p): p for p in dump_paths}

    def run_one(entry) -> DumpResult:
        path = path_by_name[entry.filename]
        sha = _sha256_file(path)
        exp = expected.get(entry.filename)
        ok = (sha.lower() == exp.lower()) if exp else None
        lake_path = ingest_dump_to_lake(spark, path, lake_root)
        return DumpResult(entry.filename, entry.data_type, lake_path, sha, ok)

    with ThreadPoolExecutor(max_workers=MAX_CONCURRENT_DUMPS) as pool:
        return list(pool.map(run_one, latest_dumps(catalog_entries(dump_paths))))


def audit_table(spark: SparkSession, results: list[DumpResult]) -> DataFrame:
    """Checksum/landing audit as a DataFrame (the reference only logs;
    SURVEY.md §2.1 S8 says record instead)."""
    return local_frame(
        spark,
        [
            (r.filename, r.data_type, r.lake_path, r.sha256, r.checksum_ok)
            for r in results
        ],
        "filename string, data_type string, lake_path string, sha256 string, checksum_ok boolean",
    )
