"""Index parameter sidecars: one small JSON file per frozen Parquet index.

Probes recompute bucket, chunk or cluster routing from the caller's
parameters, so an index probed or appended with parameters other than
the ones it was built with silently yields wrong results. Every writer
therefore records its build parameters in an underscore-prefixed JSON
file INSIDE the index directory (Parquet readers skip ``_*`` files, and
``compact_index`` copies them across its rewrite), and every reader
validates against it first.

The sidecar I/O goes through the Hadoop FileSystem API (``fsutil``), so
``file:``, ``hdfs:`` and ``s3a:`` index paths behave identically — the
indexes exist for exactly those stores. Writes are temp-file + rename,
so a crash cannot leave truncated JSON at the canonical name.

Each family passes its own file name, so indexes written by earlier
builds open unchanged: ``_band_index_meta.json`` (MinHash bands),
``_simhash_index_meta.json``, ``_exact_index_meta.json`` and
``_INDEX_META.json`` (IVF, LSH and semdedup).
"""

from __future__ import annotations

import json

from .. import fsutil


def read(spark, path: str, name: str) -> dict:
    """The sidecar ``name`` of the index at ``path``. Finishes a crashed
    ``compact_index`` first (see ``fsutil.recover_swap``), so a read
    never reports an index missing that sits whole at its backup path.
    Raises ``ValueError`` when the sidecar is absent or corrupt."""
    fsutil.recover_swap(spark, path)
    try:
        return json.loads(fsutil.read_text(spark, f"{path}/{name}"))
    except FileNotFoundError:
        raise ValueError(
            f"no {name} sidecar at {path}: the index was not written by "
            "this family's index writer or stream, cannot validate its "
            "parameters"
        ) from None
    except ValueError as e:  # json.JSONDecodeError ⊂ ValueError
        raise ValueError(
            f"{name} sidecar at {path} is corrupt ({e}): likely a crash "
            "mid-write by an older writer — rebuild the index or restore "
            "the sidecar by hand"
        ) from None


def write(spark, path: str, name: str, meta: dict) -> None:
    """Create or replace the sidecar ``name`` atomically."""
    fsutil.write_text_atomic(spark, f"{path}/{name}", json.dumps(meta))


def ensure(spark, path: str, name: str, meta: dict, validate) -> None:
    """Write ``meta`` iff the sidecar is absent; otherwise call
    ``validate(stored_meta)``, which raises on a mismatch. A stream's
    wiring must not blindly rewrite: a restart with drifted parameters
    would stamp them over the index they corrupt. Recovery
    (``fsutil.recover_swap``) runs FIRST: writing the sidecar of an
    index parked at its backup path would recreate the canonical dir
    holding only the sidecar, and the next compaction would then delete
    the backup — the only full copy — as stale."""
    fsutil.recover_swap(spark, path)
    if fsutil.exists(spark, f"{path}/{name}"):
        validate(read(spark, path, name))
    else:
        write(spark, path, name, meta)
