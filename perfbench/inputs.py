"""Seeded inputs, cached per (workload, size, seed) and checked by checksum.

An input directory holds the generated files and ``manifest.json``: the
generator's metadata (planted shares and counts, the reference's expected
answers) and the SHA-256 of every file. A directory whose files no longer
match their checksums is regenerated, never trusted.
"""

from __future__ import annotations

import json
import os
import shutil

from common import WORK, sha256_file

#: Bump when a generator's output changes, so stale caches are rebuilt.
GENERATOR_VERSION = 6


def _files(d: str) -> list[str]:
    out = []
    for base, _dirs, files in os.walk(d):
        for name in files:
            rel = os.path.relpath(os.path.join(base, name), d)
            if rel != "manifest.json":
                out.append(rel)
    return sorted(out)


def _valid(d: str) -> dict | None:
    try:
        with open(os.path.join(d, "manifest.json")) as f:
            man = json.load(f)
    except (OSError, ValueError):
        return None
    if man.get("generator_version") != GENERATOR_VERSION:
        return None
    if sorted(man["sha256"]) != _files(d):
        return None
    for rel, digest in man["sha256"].items():
        if sha256_file(os.path.join(d, rel)) != digest:
            return None
    return man


def ensure(workload: str, seed: int, size: str, generate) -> tuple[str, dict]:
    """Return (directory, manifest) of valid inputs, generating if needed."""
    d = os.path.join(WORK, "inputs", f"{workload}-{size}-s{seed}")
    man = _valid(d)
    if man is not None:
        return d, man
    tmp = d + ".partial"
    shutil.rmtree(tmp, ignore_errors=True)
    shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    meta = generate(tmp, seed, size)
    man = {
        "generator_version": GENERATOR_VERSION,
        "workload": workload,
        "seed": seed,
        "size": size,
        **meta,
        "sha256": {rel: sha256_file(os.path.join(tmp, rel)) for rel in _files(tmp)},
    }
    with open(os.path.join(tmp, "manifest.json"), "w") as f:
        json.dump(man, f, indent=1, sort_keys=True)
    os.rename(tmp, d)
    return d, man
