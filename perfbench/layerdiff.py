"""Compare two benchmark run records layer by layer.

  python3 perfbench/layerdiff.py BASE.json NEW.json

Prints every metric both records carry (end to end, named, per layer
and the layer detail of traced runs) side by side with the ratio
NEW/BASE; the base of every ratio is the BASE value. For metrics named
in perfbench/layers.json it also prints which end-to-end metric the
layer metric should move. Metrics present in only one record are listed
with a dash for the other.
"""
import json
import os
import re
import sys

HERE = os.path.dirname(os.path.abspath(__file__))


def flatten(rec):
    out = {}
    for section in ("end_to_end", "named", "per_layer"):
        for k, v in rec.get(section, {}).items():
            out[f"{section}:{k}"] = v["value"]
    for k, v in rec.get("layers", {}).items():
        if isinstance(v, (int, float)) and not k.startswith("spark.span."):
            out[f"layer:{k}"] = v
    return out


def expectations():
    """(name pattern, what it should move) from layers.json; a <placeholder>
    in a name stands for one name component, as in report.<family>_s."""
    with open(os.path.join(HERE, "layers.json")) as fh:
        return [(re.compile(re.sub(r"<[^>]+>", "[^.]+", re.escape(m["name"])) + "$"),
                 f"{m['moves']} on {m['workload']}") for m in json.load(fh)["per_layer"]]


def diff(base, new):
    a, b = flatten(base), flatten(new)
    expect = expectations()
    rows = []
    for k in sorted(set(a) | set(b)):
        va, vb = a.get(k), b.get(k)
        ratio = vb / va if va not in (None, 0) and vb is not None else None
        name = k.split(":", 1)[1]
        mv = next((m for pat, m in expect if pat.match(name)), "")
        rows.append((k, va, vb, ratio, mv))
    return rows


def main(argv):
    if len(argv) != 2:
        print(__doc__, file=sys.stderr)
        return 2
    recs = []
    for path in argv:
        with open(path) as fh:
            recs.append(json.load(fh))
    base, new = recs
    print(f"base {base['workload']} seed {base['seed']} trace {int(base['trace'])}   "
          f"new {new['workload']} seed {new['seed']} trace {int(new['trace'])}")
    show = lambda v: "-" if v is None else f"{v:.6g}"
    print(f"{'metric':<58} {'base':>12} {'new':>12} {'new/base':>9}  should move")
    for k, va, vb, ratio, mv in diff(base, new):
        print(f"{k:<58} {show(va):>12} {show(vb):>12} {show(ratio):>9}  {mv}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
