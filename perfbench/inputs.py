"""Seeded benchmark inputs, generated with ``testgen`` and cached on disk.

The engine only ever sees the parquet files written here.  A cache entry is
keyed by (workload, seed, shape); its ``_MANIFEST.json`` records the sha256 of
every file, so ``verify_regeneration`` can prove that regenerating with the
same seed yields identical bytes.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

from clin_variant_etl_spark.testgen import (
    EventGenConfig,
    generate_base_docs,
    generate_change_events,
    write_events_by_epoch,
)

MANIFEST = "_MANIFEST.json"


def _shape_key(workload: str, seed: int, shape: dict) -> str:
    blob = json.dumps(shape, sort_keys=True).encode()
    return f"{workload}-s{seed}-{hashlib.sha256(blob).hexdigest()[:12]}"


def _file_digests(root: str) -> dict[str, str]:
    out = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            if n == MANIFEST:
                continue
            p = os.path.join(dirpath, n)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, root)] = hashlib.sha256(fh.read()).hexdigest()
    return dict(sorted(out.items()))


def _generate(out_dir: str, seed: int, shape: dict) -> None:
    cfg = EventGenConfig(
        n_docs=shape["n_docs"],
        n_events=shape["events_per_epoch"] * shape["n_epochs"],
        n_epochs=shape["n_epochs"],
        dup_rate=shape["dup_rate"],
        late_rate=shape["late_rate"],
        delete_rate=shape["delete_rate"],
        hot_key_skew=shape["skew"],
        seed=seed,
    )
    write_events_by_epoch(
        generate_change_events(cfg), os.path.join(out_dir, "events"), shape["files_per_epoch"]
    )
    if shape.get("preload_docs"):
        os.makedirs(os.path.join(out_dir, "preload"))
        pq.write_table(
            generate_base_docs(shape["preload_docs"], seed=seed + 1),
            os.path.join(out_dir, "preload", "part-0000.parquet"),
        )


def ensure_inputs(cache_root: str, workload: str, seed: int, shape: dict) -> tuple[str, float]:
    """Return (input dir, seconds spent generating; 0.0 on a cache hit)."""
    d = os.path.join(cache_root, _shape_key(workload, seed, shape))
    if os.path.exists(os.path.join(d, MANIFEST)):
        return d, 0.0
    t0 = time.perf_counter()
    tmp = d + f".tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    # a child process, so the generator's memory never counts in the run's RSS
    subprocess.run(
        [sys.executable, "-m", "perfbench.inputs", tmp, str(seed), json.dumps(shape)],
        cwd=os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        check=True,
    )
    with open(os.path.join(tmp, MANIFEST), "w") as fh:
        json.dump(_file_digests(tmp), fh, indent=1)
    shutil.rmtree(d, ignore_errors=True)
    os.replace(tmp, d)
    return d, time.perf_counter() - t0


def verify_regeneration(cache_root: str, workload: str, seed: int, shape: dict) -> bool:
    """Regenerate into a scratch dir and compare every file's digest with the
    cached manifest (generating the cache entry first if it is missing)."""
    d, _ = ensure_inputs(cache_root, workload, seed, shape)
    with open(os.path.join(d, MANIFEST)) as fh:
        want = json.load(fh)
    tmp = d + f".verify{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    try:
        _generate(tmp, seed, shape)
        return _file_digests(tmp) == want
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def epoch_dirs(input_dir: str) -> list[str]:
    root = os.path.join(input_dir, "events")
    eps = sorted(int(n.split("=", 1)[1]) for n in os.listdir(root) if n.startswith("epoch="))
    return [os.path.join(root, f"epoch={k}") for k in eps]


def logical_bytes(tbl: pa.Table) -> int:
    """Logical payload size: 4 bytes per token plus the string columns."""
    total = 4 * int(pa.compute.sum(tbl.column("n_tok").fill_null(0)).as_py() or 0)
    for c in ("doc_id", "source", "op"):
        if c in tbl.column_names:
            lens = pa.compute.utf8_length(tbl.column(c).fill_null(""))
            total += int(pa.compute.sum(lens).as_py() or 0)
    return total


if __name__ == "__main__":
    _generate(sys.argv[1], int(sys.argv[2]), json.loads(sys.argv[3]))
