"""Manifest write-amplification scale smoke (r14).

Per shape: N append commits of 4 files each land on one table; we
record the JSON bytes of EVERY manifest written, under

- ``full``: CHECKPOINT_EVERY=1 (the pre-delta behavior — every commit
  publishes the whole snapshot), and
- ``delta``: the default (checkpoints at v1 and every 8th version,
  deltas between).

Expected: the full-mode per-commit bytes GROW with the accumulated
file count (O(live files) per append); delta-mode commits stay flat
with periodic checkpoint spikes — total manifest bytes drop by the
checkpoint ratio, and the marginal append cost becomes O(commit).
No Spark needed: the commit protocol is driven through ``_publish``
with synthetic staged file paths (bytes written are what we measure,
not scan walls).

Usage: python tools/scale_smoke_manifest_bytes.py [n_commits]
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile
import uuid
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import automated_etl_pipeline_spark.io.manifest as mf  # noqa: E402


def _fake_stage(root: str, n: int) -> list[str]:
    stage = os.path.join(root, "data", uuid.uuid4().hex)
    os.makedirs(stage)
    out = []
    for i in range(n):
        p = os.path.join(stage, f"part-{i:05d}.parquet")
        open(p, "wb").close()
        out.append(p)
    return out


def run_mode(n_commits: int, checkpoint_every: int) -> dict:
    root = tempfile.mkdtemp(prefix="mbytes_")
    saved = mf.CHECKPOINT_EVERY
    mf.CHECKPOINT_EVERY = checkpoint_every
    try:
        sizes = []
        for i in range(n_commits):
            files = _fake_stage(root, 4)
            stats = {
                f: {"k": [i * 4 + j, i * 4 + j]}
                for j, f in enumerate(files)
            }
            mf._publish(
                root, f"c{i}", {"kind": "append", "added": files, "stats": stats}
            )
            path = os.path.join(
                mf._manifest_dir(root), f"v{i + 1:010d}.json"
            )
            sizes.append(os.path.getsize(path))
        # resolution sanity: the tip must name every staged file
        st = mf._resolve_state(root, n_commits)
        assert len(st["files"]) == 4 * n_commits
        import json

        kinds = []
        for i in range(n_commits):
            path = os.path.join(
                mf._manifest_dir(root), f"v{i + 1:010d}.json"
            )
            kinds.append(
                "full" if "files" in json.loads(open(path).read()) else "delta"
            )
        delta_sizes = [s for s, k in zip(sizes, kinds) if k == "delta"]
        return {
            "total": sum(sizes),
            "delta_mean": (
                sum(delta_sizes) / len(delta_sizes) if delta_sizes else 0
            ),
            "max": max(sizes),
        }
    finally:
        mf.CHECKPOINT_EVERY = saved
        shutil.rmtree(root, ignore_errors=True)


def main() -> None:
    n = int(sys.argv[1]) if len(sys.argv) > 1 else 256
    print("mode n_commits files total_manifest_KB delta_commit_mean_B max_B")
    for label, ck in [("full", 1), ("delta", 8)]:
        r = run_mode(n, ck)
        print(
            f"{label} {n} {4 * n} {r['total'] / 1e3:.1f} "
            f"{r['delta_mean']:.0f} {r['max']}"
        )


if __name__ == "__main__":
    main()
