"""Output digests shared by the oracle (run.py) and the engine side
(worker.py): rows are normalised with tools/verify_local.py's value
normalisation and order-insensitive multiset, then hashed."""

from __future__ import annotations

import hashlib
import importlib.util
import os

_VERIFY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "tools",
    "verify_local.py",
)
_spec = importlib.util.spec_from_file_location("perfbench_verify_local", _VERIFY)
_verify = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_verify)


def digest(rows: list[tuple], cols: list[str]) -> dict:
    """Column names, row count and a hash of the normalised row multiset."""
    ms = _verify._multiset(rows, cols)
    sha = hashlib.sha256("\n".join(ms).encode("utf-8")).hexdigest()
    return {"cols": sorted(cols), "rows": len(rows), "sha": sha}


def read_part_files(out_dir: str) -> list[str]:
    """Every line of every ``part-*`` file a job wrote."""
    lines: list[str] = []
    for name in sorted(os.listdir(out_dir)):
        if name.startswith("part-"):
            with open(os.path.join(out_dir, name), encoding="utf-8") as fh:
                lines.extend(fh.read().splitlines())
    return lines
