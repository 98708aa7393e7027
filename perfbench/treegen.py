"""Seeded directory-tree generator for the index_tree workload.

A tree is fully described by a spec that is a pure function of
(seed, files): every file's relative path, size, modification time and
content header, plus the churn and delete steps that follow the first
index and the ground truth each index step must reproduce.

Population (fractions of `files`):
  * 95% have a size no other file has, so the two-phase indexer never
    hashes them;
  * 5% share their size with at least one other file. Groups of 2-4;
    about 60% of the groups are exact content duplicates, the rest only
    collide on size.
Contents are a 32-byte header followed by a sparse zero extension up to
the file's size, so a large tree costs little disk.

Usage:
  treegen.py make   --seed S --files N --out DIR --spec SPEC.json
  treegen.py churn  --spec SPEC.json --out DIR
  treegen.py delete --spec SPEC.json --out DIR
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import sys

TOP_DIRS = 16
SUB_DIRS = 8
COLLISION_RATE = 0.05
DUP_GROUP_SHARE = 0.6
CHURN_RATE = 0.01
DELETED_TOP_DIRS = 2
HEADER = 32
BASE_MTIME = 1_600_000_000
CHURN_MTIME_STEP = 86_400
EXTS = (".txt", ".log", ".dat", ".bin", "")


def _header(tag):
    return hashlib.sha256(tag.encode()).digest()[:HEADER]


def make_spec(seed, files):
    """Everything about the tree and its truth, as plain JSON data."""
    if files < 100:
        raise ValueError("files must be at least 100")
    rng = random.Random(seed)
    n_coll = int(round(files * COLLISION_RATE))
    n_uniq = files - n_coll
    # disjoint size ranges: unique sizes can never meet a colliding one
    uniq_sizes = rng.sample(range(HEADER + 1, HEADER + 1 + 8 * files), n_uniq)
    coll_base = HEADER + 1 + 8 * files
    groups = []
    left = n_coll
    while left > 0:
        g = min(rng.randint(2, 4), left)
        if left - g == 1:
            g += 1
        groups.append(g)
        left -= g
    coll_sizes = rng.sample(range(coll_base, coll_base + 8 * files), len(groups))

    entries = []  # (size, content tag)
    for i, size in enumerate(uniq_sizes):
        entries.append((size, f"{seed}:u{i}"))
    dup_groups = 0
    for gi, (g, size) in enumerate(zip(groups, coll_sizes)):
        is_dup = rng.random() < DUP_GROUP_SHARE
        dup_groups += is_dup
        for k in range(g):
            entries.append((size, f"{seed}:g{gi}" if is_dup else f"{seed}:g{gi}.{k}"))
    rng.shuffle(entries)

    out = []
    for i, (size, tag) in enumerate(entries):
        top, sub = rng.randrange(TOP_DIRS), rng.randrange(SUB_DIRS)
        rel = f"t{top:02d}/s{sub:02d}/f{i:06d}{EXTS[i % len(EXTS)]}"
        out.append({"rel": rel, "size": size, "tag": tag,
                    "mtime": BASE_MTIME + rng.randrange(365 * 86_400)})

    sizes = {}
    for f in out:
        sizes[f["size"]] = sizes.get(f["size"], 0) + 1
    uniq_idx = [i for i, f in enumerate(out) if sizes[f["size"]] == 1]
    churn = sorted(rng.sample(uniq_idx, max(1, int(round(files * CHURN_RATE)))))
    deleted = sorted(rng.sample([f"t{t:02d}" for t in range(TOP_DIRS)], DELETED_TOP_DIRS))
    return {"seed": seed, "files": out, "churn": churn, "deleted_dirs": deleted,
            "truth": truth(out, churn, deleted)}


def truth(files, churn, deleted):
    """Ground truth each index step must reproduce."""
    sizes, tags = {}, {}
    for f in files:
        sizes[f["size"]] = sizes.get(f["size"], 0) + 1
    survivors = [f for f in files if f["rel"].split("/")[0] not in deleted]
    for f in survivors:
        tags[f["tag"]] = tags.get(f["tag"], 0) + 1
    return {
        "scanned": len(files),
        "churned": len(churn),
        "size_colliding": sum(1 for f in files if sizes[f["size"]] > 1),
        "cleanup_removed": len(files) - len(survivors),
        "dup_groups": sum(1 for n in tags.values() if n > 1),
    }


def digest(spec):
    """Manifest digest: identical seeds give identical trees."""
    h = hashlib.sha256()
    for f in spec["files"]:
        h.update(f"{f['rel']}|{f['size']}|{f['mtime']}|{f['tag']}\n".encode())
    h.update(json.dumps([spec["churn"], spec["deleted_dirs"]]).encode())
    return h.hexdigest()


def _write(path, tag, size, mtime):
    with open(path, "r+b" if os.path.exists(path) else "wb") as fh:
        fh.write(_header(tag))
        fh.truncate(size)
    os.utime(path, (mtime, mtime))


def materialize(spec, out):
    os.makedirs(out, exist_ok=True)
    for t in range(TOP_DIRS):
        for s in range(SUB_DIRS):
            os.makedirs(os.path.join(out, f"t{t:02d}", f"s{s:02d}"), exist_ok=True)
    for f in spec["files"]:
        _write(os.path.join(out, f["rel"]), f["tag"], f["size"], f["mtime"])


def apply_churn(spec, out):
    """Rewrite each churned file's content with its size kept and its
    mtime moved forward, so only the (mtime, size) check can see it."""
    for i in spec["churn"]:
        f = spec["files"][i]
        _write(os.path.join(out, f["rel"]), f["tag"] + ":churned", f["size"],
               f["mtime"] + CHURN_MTIME_STEP)


def apply_delete(spec, out):
    for d in spec["deleted_dirs"]:
        shutil.rmtree(os.path.join(out, d))


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("action", choices=["make", "churn", "delete"])
    ap.add_argument("--seed", type=int)
    ap.add_argument("--files", type=int)
    ap.add_argument("--out", required=True)
    ap.add_argument("--spec", required=True)
    a = ap.parse_args(argv)
    if a.action == "make":
        spec = make_spec(a.seed, a.files)
        materialize(spec, a.out)
        with open(a.spec, "w") as fh:
            json.dump(spec, fh)
    else:
        with open(a.spec) as fh:
            spec = json.load(fh)
        (apply_churn if a.action == "churn" else apply_delete)(spec, a.out)
    # flush now, so the writeback of this change (and of the step before
    # it) does not share the disk with the timed step that follows
    os.sync()
    if a.action == "make":
        print(json.dumps({"digest": digest(spec), **spec["truth"]}))


if __name__ == "__main__":
    main(sys.argv[1:])
