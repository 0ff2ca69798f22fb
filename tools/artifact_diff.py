#!/usr/bin/env python3
"""Compare two runs' bench artifacts: key sets and deterministic fields.

Usage: artifact_diff.py <parentOut> <changeOut>

Reads every `*.json` artifact in each directory and its direct
subdirectories (one JSON line per file, as `BenchProto.writeArtifact`
writes them), pairs them by relative path, and reports per file:

- `keys`: the recursive key paths that differ (array elements share one
  path, so a leg list of a different length does not count);
- `values`: the fields that differ whose key is not a timing or host
  reading (`sec`, `samples`, `load1`, `calib`, `median`, `*_sec`,
  `sec_*`, `ms_per_*`, `us_per_*`, `wall_*`, `load_start`, `load_end`).

Exit status 0 when every file pairs up and nothing differs.
"""
import glob
import json
import os
import re
import sys

TIMING = re.compile(r"^(sec|samples|load1|calib|median|load_start|load_end)$"
                    r"|_sec$|^sec_|_samples$|^ms_per_|^us_per_|^wall_")


def artifacts(root):
    paths = glob.glob(os.path.join(root, "*.json")) + \
        glob.glob(os.path.join(root, "*", "*.json"))
    return {os.path.relpath(p, root): p for p in paths}


def load(path):
    with open(path, encoding="utf-8") as fh:
        lines = [l for l in fh.read().splitlines() if l.strip()]
    return json.loads(lines[-1]) if lines else None


def keys(v, prefix=""):
    if isinstance(v, dict):
        ks = set()
        for k, x in v.items():
            ks.add(prefix + k)
            ks |= keys(x, prefix + k + ".")
        return ks
    if isinstance(v, list):
        ks = set()
        for x in v:
            ks |= keys(x, prefix + "[].")
        return ks
    return set()


def values(a, b, path=""):
    """Differing (path, a, b) over the deterministic leaves."""
    key = path.rsplit(".", 1)[-1]
    if key and TIMING.search(key):
        return []
    if isinstance(a, dict) and isinstance(b, dict):
        return [d for k in sorted(set(a) & set(b))
                for d in values(a[k], b[k], f"{path}.{k}" if path else k)]
    if isinstance(a, list) and isinstance(b, list):
        if len(a) != len(b):
            return [(path, f"len {len(a)}", f"len {len(b)}")]
        return [d for i, (x, y) in enumerate(zip(a, b))
                for d in values(x, y, f"{path}[{i}]")]
    return [] if a == b else [(path, a, b)]


def main():
    pa, pb = artifacts(sys.argv[1]), artifacts(sys.argv[2])
    bad = False
    for rel in sorted(set(pa) | set(pb)):
        if rel not in pa or rel not in pb:
            print(f"MISSING {rel}: only in {'parent' if rel in pa else 'change'}")
            bad = True
            continue
        a, b = load(pa[rel]), load(pb[rel])
        kd = keys(a) ^ keys(b)
        vd = values(a, b)
        if kd or vd:
            bad = True
            print(f"DIFF {rel}")
            for k in sorted(kd):
                print(f"  key {k}: only in {'parent' if k in keys(a) else 'change'}")
            for p, x, y in vd:
                print(f"  value {p}: {x} -> {y}")
        else:
            print(f"OK {rel}")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
