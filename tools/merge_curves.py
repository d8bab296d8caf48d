#!/usr/bin/env python3
"""Merge a partial `graft.Curves` run (e.g. one more multiple for a few
gates) into a committed `scale_curves` artifact such as SCALE_CURVES.json:
name rows present in the partial file replace the committed rows wholesale
(their per-multiple maps carry the new multiples), everything else is
preserved, and the top-level `multiples` becomes the union. Per-name
coverage stays self-describing via each row's map keys — names measured
only to 10x keep only those cells. Both runs must share the slice base,
the documents regime (`vocab`, default dense), the state-store provider
(`state_provider`, default hdfs) and the session conf overrides.

Usage: merge_curves.py <committed.json> <partial.json>
"""
import json
import sys


def main() -> None:
    committed_path, partial_path = sys.argv[1], sys.argv[2]
    with open(committed_path) as f:
        committed = json.load(f)
    with open(partial_path) as f:
        partial = json.load(f)
    assert committed["metric"] == partial["metric"] == "scale_curves"
    assert committed["base"] == partial["base"], (
        "refusing to merge runs from different slice bases: "
        f'{committed["base"]} vs {partial["base"]}')
    assert committed.get("session_conf") == partial.get("session_conf"), (
        "refusing to merge runs under different session conf overrides")
    for key, default in (("vocab", "dense"), ("state_provider", "hdfs")):
        assert committed.get(key, default) == partial.get(key, default), (
            f"refusing to merge runs with different {key}")
    committed["gates"].update(partial["gates"])
    committed["multiples"] = sorted(
        set(committed["multiples"]) | set(partial["multiples"]))
    with open(committed_path, "w") as f:
        json.dump(committed, f, separators=(",", ":"))
        f.write("\n")
    print(f"merged {sorted(partial['gates'])} into {committed_path}; "
          f"multiples now {committed['multiples']}")


if __name__ == "__main__":
    main()
