#!/usr/bin/env python3
"""Assemble committed StreamScaleProbe artifacts from hunted attempt pools,
pinning the selection rule INTO each selected row (VERDICT r15 #5: the ×1000
assembly switched from min-steal to min-wall because the r14 "< 2 s
in-window steal" bar is unreachable at 100-430 s faces, and the rows
carried no field saying which regime selected them — cross-decade
tooling could silently mix the two).

Usage:

  assemble_probe.py faces <pool.jsonl> [--cap SEC]
     Per-face selection from a StreamScaleProbe attempt pool.
     Rule per face: if any row has 0 <= host_steal < cap, take the
     min-steal row among those (rule=min-steal); otherwise take the
     min-wall row (rule=min-wall, an upper bound). Each selected row is
     emitted with "rule" and "steal_cap" stamped; output is JSONL on
     stdout, ready to append to stream_probe.json.
"""
import argparse, json


def faces(pool_path: str, cap: float) -> None:
    rows = {}
    for ln in open(pool_path):
        ln = ln.strip()
        if not ln:
            continue
        try:
            d = json.loads(ln)
        except json.JSONDecodeError:
            continue
        q = d.get("q")
        if not q or q == "probe_total" or "wall" not in d:
            continue
        rows.setdefault(q, []).append(d)
    for q in sorted(rows):
        cands = rows[q]
        clean = [r for r in cands if 0 <= r.get("host_steal", -1) < cap]
        if clean:
            win = min(clean, key=lambda r: r["host_steal"])
            win["rule"] = "min-steal"
        else:
            win = min(cands, key=lambda r: r["wall"])
            win["rule"] = "min-wall"
        win["steal_cap"] = cap
        print(json.dumps(win))


if __name__ == "__main__":
    p = argparse.ArgumentParser()
    p.add_argument("mode", choices=["faces"])
    p.add_argument("path")
    p.add_argument("--cap", type=float, default=2.0)
    a = p.parse_args()
    faces(a.path, a.cap)
