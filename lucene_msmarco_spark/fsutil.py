"""Small filesystem persistence helpers shared by the sidecar and
manifest writers (the incremental index writer, the IVF model store).

Kill-safety rules, applied uniformly:

- replace-style JSON sidecars write tmp + fsync + rename
  (``atomic_write_json``) — a kill mid-write must never leave a torn
  sidecar that bricks every later load;
- append-style jsonl manifests tolerate ONE torn final line on read
  (``read_jsonl_tolerant``) — the only line a kill mid-append can
  tear — while an invalid line anywhere EARLIER still raises: that is
  corruption, not an interrupted append.

(The segmented writer's ``_manifest.jsonl`` keeps its own stricter
repair path — it additionally completes valid-but-unterminated tails
in place; see ``streaming/incremental.py``.)
"""

from __future__ import annotations

import json
import os


def atomic_write_json(path: str, obj) -> None:
    """tmp + fsync + rename; atomic on posix — the replace-style
    sidecar write every artifact in this package uses."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def read_jsonl_tolerant(path: str) -> list[dict]:
    """Parse a manifest-style jsonl, dropping a torn FINAL line."""
    if not os.path.exists(path):
        return []
    with open(path) as f:
        lines = [ln for ln in f if ln.strip()]
    out = []
    for i, ln in enumerate(lines):
        try:
            out.append(json.loads(ln))
        except json.JSONDecodeError:
            if i == len(lines) - 1:
                break
            raise
    return out
