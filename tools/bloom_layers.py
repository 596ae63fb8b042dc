#!/usr/bin/env python3
"""Print each bloom shard's layer stack from a frontier snapshot's metadata.

A frontier store publishes `metadata/v<N>.json` per round; its `bloom_vers`
prop lists, per seen-table shard, each filter layer's blob version and the
item count of the newest layer (`v0.v1.v2:fill`; `-1` for a shard with no
layer yet). Layer i holds `base * 2^i` items at FPP `0.01 * 2^-i`, where
base = max(16, bloomCapacity / shards), so a shard's false-positive bound
is the sum of its layers' FPPs, under 0.02. Stores written before layers
hold one bare version per shard; it reads as one sealed layer of unknown
size (its bound is the single filter's 0.01).

    python3 tools/bloom_layers.py /path/to/store            # latest snapshot
    python3 tools/bloom_layers.py /path/to/store 7          # snapshot v7
    python3 tools/bloom_layers.py --bloom-capacity 64 /path/to/store

No Spark is needed: the tool reads the metadata JSON only.
"""
import argparse
import json
import os
import re
import sys

DEFAULT_CAPACITY = 1 << 22  # EngineConfig.bloomCapacity's default


def latest_version(root):
    vs = [int(m.group(1)) for f in os.listdir(os.path.join(root, "metadata"))
          if (m := re.fullmatch(r"v(\d+)\.json", f))]
    if not vs:
        sys.exit(f"no committed snapshot under {root}")
    return max(vs)


def parse(entry):
    """(layer versions, newest fill or None for a flat sealed layer)."""
    if ":" in entry:
        vers, fill = entry.split(":")
        return [int(v) for v in vers.split(".")], int(fill)
    v = int(entry)
    return ([], 0) if v < 0 else ([v], None)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("store")
    ap.add_argument("version", nargs="?", type=int)
    ap.add_argument("--bloom-capacity", type=int, default=DEFAULT_CAPACITY,
                    help="the engine's bloomCapacity (default %(default)s)")
    a = ap.parse_args()
    v = a.version if a.version is not None else latest_version(a.store)
    with open(os.path.join(a.store, "metadata", f"v{v}.json")) as f:
        meta = json.load(f)
    entries = meta["props"]["bloom_vers"].split(",")
    base = max(16, a.bloom_capacity // len(entries))
    print(f"snapshot v{v}: {len(entries)} shards, first layer {base} items a shard")
    print(f"{'shard':>5} {'layers':>6} {'fill':>10} {'capacity':>10} {'fpr_bound':>9}  versions")
    for k, entry in enumerate(entries):
        vers, fill = parse(entry)
        n = len(vers)
        cap = base << (n - 1) if n else 0
        if fill is None:  # flat manifest: one sealed filter
            shown, bound = "sealed", 0.01
        else:
            shown, bound = str(fill), sum(0.01 / (1 << i) for i in range(n))
        print(f"{k:>5} {n:>6} {shown:>10} {cap if fill is not None else '?':>10} "
              f"{bound:>9.4f}  {'.'.join(map(str, vers)) or '-'}")


if __name__ == "__main__":
    main()
