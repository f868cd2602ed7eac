"""Bucket-manifest checkpointing for resumable batch runs (north rule).

The job hash-partitions the conversation key space into ``n_buckets`` and
processes one bucket per step: filter → pipeline → write
``out/bucket=K/sink=.../*.parquet`` → append a manifest entry.  A restarted
run reads the manifest and skips completed buckets, so a failure mid-run
loses at most one bucket of work.  Correctness is unaffected by bucketing:
conversations are hash-disjoint across buckets, and the pipeline is
conversation-local by construction.

The manifest is a JSONL file (one entry per completed bucket, written after
the bucket's output is durable) that the driver writes with local file I/O,
so its directory is a local path or a ``file:`` URI (``local_dir``).  A
crashed bucket leaves a partial ``bucket=K`` directory that the retry
overwrites (dynamic partition overwrite semantics).
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
from dataclasses import dataclass
from urllib.parse import unquote, urlsplit


class ManifestMismatch(RuntimeError):
    """Resume attempted with a different partitioning or pipeline config than
    the manifest was written under — skipping old bucket ids under a new
    bucket count (or changed semantics) would silently drop or duplicate
    conversations."""


def local_dir(path: str) -> str:
    """``path`` as a local directory: a plain path unchanged, a ``file:``
    URI as its path.  Any other scheme raises ValueError — ``open`` would
    otherwise write ``s3://bucket/x`` to the relative local path
    ``s3:/bucket/x`` and read it back as if it were durable."""
    parts = urlsplit(path)
    if not parts.scheme:
        return path
    if parts.scheme == "file" and parts.netloc in ("", "localhost"):
        return unquote(parts.path)
    raise ValueError(
        f"--checkpoint-dir {path!r}: the checkpoint manifest and run metadata "
        f"are written with local file I/O; give a local path or a file: URI"
    )


def config_fingerprint(cfg, n_buckets: int) -> str:
    """Stable digest of everything that determines bucket membership and
    per-bucket output: the bucket count plus the full pipeline config."""
    import dataclasses

    payload = {"n_buckets": n_buckets, "cfg": dataclasses.asdict(cfg)}
    return hashlib.md5(json.dumps(payload, sort_keys=True).encode()).hexdigest()[:16]


def _file_stats(df, files: list[str]) -> list[list]:
    """(uri, length, mtime) per input file via the Hadoop FileSystem —
    one ``listStatus`` per parent DIRECTORY (not per file: a py4j
    round-trip per file would hurt on wide tables), keyed by file name
    inside the listing so URI normalization differences between
    ``df.inputFiles()`` and ``Path.toString()`` can't cause misses.  Any
    filesystem error degrades that entry to (0, 0) — same protection level
    as the old name-only digest for that file, never a crash — but is
    LOGGED (ADVICE r4): a consistently failing listing (permissions,
    object-store quirks) silently reverts the size+mtime snapshot guard to
    name-only semantics, and operators need to know the in-place-overwrite
    protection is off for those files."""
    sc = df.sparkSession.sparkContext
    jvm = sc._jvm
    hconf = sc._jsc.hadoopConfiguration()
    by_parent: dict[str, list[tuple[str, str]]] = {}
    for f in files:
        parent, _, name = f.rpartition("/")
        by_parent.setdefault(parent, []).append((f, name))
    out = {}
    for parent, entries in by_parent.items():
        listing: dict[str, tuple[int, int]] = {}
        try:
            p = jvm.org.apache.hadoop.fs.Path(parent)
            fs = p.getFileSystem(hconf)
            for st in fs.listStatus(p):
                listing[st.getPath().getName()] = (
                    int(st.getLen()), int(st.getModificationTime())
                )
        except Exception as exc:
            logging.getLogger(__name__).warning(
                "prepass fingerprint: listStatus(%s) failed (%s); "
                "size+mtime snapshot guard degraded to name-only for %d "
                "file(s) in this directory — in-place overwrites there "
                "will NOT invalidate the checkpoint",
                parent, exc, len(entries),
            )
        for f, name in entries:
            ln, mt = listing.get(name, (0, 0))
            out[f] = [f, ln, mt]
    return [out[f] for f in files]


def prepass_fingerprint(config_fp: str, input_path: str, df) -> str:
    """Digest binding a checkpointed phase result (``data_job``'s global
    gate ids) to the (config, input snapshot) it was computed over: the
    config fingerprint plus the sorted input file list WITH per-file size
    and modification time (ADVICE r3 — a name-only form silently replays a
    stale result after an in-place overwrite of a same-named file;
    size+mtime make same-name content changes invalidate the entry, so the
    phase re-runs instead of misreading)."""
    files = sorted(df.inputFiles())
    payload = {
        "config": config_fp,
        "input": input_path,
        "files": _file_stats(df, files),
    }
    return hashlib.md5(json.dumps(payload, sort_keys=True).encode()).hexdigest()[:16]


@dataclass
class BucketManifest:
    path: str

    def __post_init__(self):
        self.path = local_dir(self.path)

    def _file(self) -> str:
        return os.path.join(self.path, "manifest.jsonl")

    def completed(self, fingerprint: str | None = None) -> dict[int, dict]:
        """Completed buckets.  When ``fingerprint`` is given, any entry
        written under a DIFFERENT fingerprint raises ManifestMismatch — the
        caller must either re-run with the original settings or start a clean
        checkpoint dir."""
        done: dict[int, dict] = {}
        try:
            with open(self._file()) as f:
                for line in f:
                    if line.strip():
                        e = json.loads(line)
                        if fingerprint is not None and e.get("fingerprint") != fingerprint:
                            if e.get("fingerprint") is None:
                                # pre-fingerprint manifest: blaming a config
                                # change would mislead (ADVICE r2) — the entry
                                # predates fingerprinting entirely
                                raise ManifestMismatch(
                                    f"manifest {self._file()} bucket {e.get('bucket')} "
                                    f"was written by an older version without a config "
                                    f"fingerprint; cannot verify it matches this run — "
                                    f"re-run against a clean checkpoint dir (or delete "
                                    f"the manifest to reprocess all buckets)"
                                )
                            raise ManifestMismatch(
                                f"manifest {self._file()} bucket {e.get('bucket')} was "
                                f"written under fingerprint {e.get('fingerprint')!r}, "
                                f"current run is {fingerprint!r} (different --buckets "
                                f"or pipeline config); refusing to resume"
                            )
                        done[int(e["bucket"])] = e
        except FileNotFoundError:
            pass
        return done

    def mark_done(self, bucket: int, info: dict, fingerprint: str | None = None) -> None:
        os.makedirs(self.path, exist_ok=True)
        entry = dict(info, bucket=bucket)
        if fingerprint is not None:
            entry["fingerprint"] = fingerprint
        # append + flush + fsync: the entry is durable before the next bucket
        with open(self._file(), "a") as f:
            f.write(json.dumps(entry, sort_keys=True) + "\n")
            f.flush()
            os.fsync(f.fileno())


def bucket_of(conv_col: str, n_buckets: int):
    from pyspark.sql import functions as F

    # crc32 is stable across Spark versions/JVMs (unlike hash() seeds)
    return F.pmod(F.crc32(F.col(conv_col).cast("binary")), F.lit(n_buckets)).cast("int")
