"""Self time per layer from the traced run's spans.

The root is the span named `pass`. Every other span is clipped to its
parent's interval; spans with no recorded parent (work on threads the
benchmark does not drive, such as the capture drainer) hang from the root.
Each instant of the root's interval is charged to the innermost spans open
at that instant, split evenly when several run at once, so the self times
of all layers add up to the root's duration exactly.
"""
LAYERS = ["bench", "user", "capture", "sink", "assess", "streaming", "ext", "spark"]


def analyse(spans):
    by_id = {s["id"]: s for s in spans}
    root = next((s for s in spans if s["name"] == "pass" and s["parent"] == 0), None)
    out = {"self_ms": {}, "jobs_per_call": [], "driver_only_ms": 0.0, "spans": len(spans),
           "wall_ms": 0.0}
    if root is None:
        return out
    r0, r1 = root["t0"], root["t1"]
    out["wall_ms"] = (r1 - r0) / 1e6

    def parent_of(s):
        p = by_id.get(s["parent"])
        return p if p is not None and p is not s else root

    # clip top-down: sort so that parents come before children
    depth = {}

    def d(s):
        if s is root:
            return 0
        if s["id"] not in depth:
            depth[s["id"]] = d(parent_of(s)) + 1
        return depth[s["id"]]

    kept = {root["id"]: (r0, r1)}
    parent = {}
    for s in sorted((s for s in spans if s is not root), key=d):
        p = parent_of(s)
        if p["id"] not in kept:
            continue
        p0, p1 = kept[p["id"]]
        a, b = max(s["t0"], p0), min(s["t1"], p1)
        if b > a:
            kept[s["id"]] = (a, b)
            parent[s["id"]] = p["id"]

    # sweep: charge each elementary interval to the open leaf spans
    events = []
    for sid, (a, b) in kept.items():
        events.append((a, 1, sid))
        events.append((b, 0, sid))
    events.sort()
    open_children = {}
    leaves = set()
    active = set()
    self_ns = {}
    last = r0
    for t, kind, sid in events:
        if t > last and leaves:
            share = (t - last) / len(leaves)
            for leaf in leaves:
                layer = by_id[leaf]["layer"]
                self_ns[layer] = self_ns.get(layer, 0.0) + share
        last = max(last, t)
        p = parent.get(sid)
        if kind == 1:
            active.add(sid)
            leaves.add(sid)
            if p is not None:
                open_children[p] = open_children.get(p, 0) + 1
                leaves.discard(p)
        else:
            active.discard(sid)
            leaves.discard(sid)
            if p is not None:
                open_children[p] -= 1
                if open_children[p] == 0 and p in active:
                    leaves.add(p)
    out["self_ms"] = {k: v / 1e6 for k, v in self_ns.items()}

    # jobs per timed call, and wall time with no job running
    jobs = [sid for sid in kept if by_id[sid]["layer"] == "spark"]
    per_call = {}
    for sid in jobs:
        c = by_id[parent.get(sid, root["id"])]["call"]
        if c > 0:
            per_call[c] = per_call.get(c, 0) + 1
    calls = {s["call"] for s in spans if s["call"] > 0 and s["id"] in kept}
    out["jobs_per_call"] = [per_call.get(c, 0) for c in sorted(calls)]
    busy = 0
    cur0 = cur1 = None
    for a, b in sorted(kept[sid] for sid in jobs):
        if cur1 is None or a > cur1:
            if cur1 is not None:
                busy += cur1 - cur0
            cur0, cur1 = a, b
        else:
            cur1 = max(cur1, b)
    if cur1 is not None:
        busy += cur1 - cur0
    out["driver_only_ms"] = (r1 - r0 - busy) / 1e6
    return out


if __name__ == "__main__":
    import json
    import sys
    sp = [json.loads(line) for line in open(sys.argv[1]) if line.strip()]
    print(json.dumps(analyse(sp), indent=1))
