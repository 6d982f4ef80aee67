"""Seeded migration inputs for the ``migrate`` workload.

One call of :func:`make_inputs` writes the three files the reference's
pipelines start from, all derived from the seed alone:

* ``listing.jsonl`` - an ``az storage blob list --include m`` dump, one
  JSON object per blob (folders carry ``hdi_isfolder``), read through
  ``sources.inventory.read_blob_listing``;
* ``getfacl.txt`` - ``getfacl -R`` text for every folder and file plus the
  mount root, read through ``sources.acl_scan.read_getfacl_text``;
* ``identity.json`` - the ``[{type, source, target}]`` identity map, read
  through ``sources.identity.read_identity_map``.

The tree is balanced under a few containers, files land in random
directories at every level, and file sizes are
Pareto (alpha 1.5: heavy-tailed, yet the recursion shape is alike across
seeds), so a few files hold much of the bytes and the size of
a subtree is heavy-tailed too.  The pack capacity is a fixed share of the
total bytes, small enough that every container and some directories below
it are oversized (the X2 recursion rounds).  A few planted files, larger
than one unit, sit at the deepest level and stay at unit 0.

The returned :class:`MigrateInputs` keeps what the output checks need:
every file with its size, every folder, and the request paths the ACL sink
will send.
"""

from __future__ import annotations

import json
import os
import random
from dataclasses import dataclass

MOUNT = "/adls"          # getfacl paths are /adls/<name>; the pipeline strips it
N_CONTAINERS = 6
FANOUT = 4
DEPTH = 4                # containers are level 1
N_USERS = 60
N_GROUPS = 20
PARETO_ALPHA = 1.5
MIN_FILE_BYTES = 4096
UNITS_TARGET = 40        # capacity = total bytes / UNITS_TARGET
N_OVERSIZED_FILES = 3


@dataclass
class MigrateInputs:
    listing_path: str
    getfacl_path: str
    identity_path: str
    capacity: int
    files: dict[str, int]      # file name -> size
    folders: list[str]
    acl_paths: list[str]       # request paths the ACL sink sends, root = "/"


def _tree(rng: random.Random) -> list[str]:
    """A balanced tree: FANOUT subdirectories per directory below each
    container, DEPTH levels in all (names are random, the shape is not)."""
    dirs = level = [f"c{i}" for i in range(N_CONTAINERS)]
    for _ in range(DEPTH - 1):
        level = [f"{d}/d{rng.randrange(16**5):05x}" for d in level
                 for _ in range(FANOUT)]
        dirs = dirs + level
    return sorted(set(dirs))


def _perm_json(rng: random.Random, users: list[str], groups: list[str],
               perms: str) -> str:
    return json.dumps({"owner": rng.choice(users), "group": rng.choice(groups),
                       "permissions": perms})


def make_inputs(out_dir: str, seed: int, n_files: int) -> MigrateInputs:
    rng = random.Random(seed)
    users = [f"u{i:03d}" for i in range(N_USERS)]
    groups = [f"g{i:02d}" for i in range(N_GROUPS)]
    dirs = _tree(rng)

    files: dict[str, int] = {}
    for i in range(n_files):
        d = rng.choice(dirs)
        size = int(MIN_FILE_BYTES / (1.0 - rng.random()) ** (1.0 / PARETO_ALPHA))
        files[f"{d}/f{i:06d}.dat"] = size
    capacity = sum(files.values()) // UNITS_TARGET
    # planted at the deepest level, so every seed needs the same number of
    # recursion rounds: each ancestor of an oversized file is oversized too
    deepest = max(d.count("/") for d in dirs)
    bottom = [d for d in dirs if d.count("/") == deepest]
    for i in range(N_OVERSIZED_FILES):
        files[f"{rng.choice(bottom)}/big{i}.bin"] = capacity + rng.randrange(capacity)

    os.makedirs(out_dir, exist_ok=True)
    names = sorted([(d, True) for d in dirs] + [(f, False) for f in files])
    listing_path = os.path.join(out_dir, "listing.jsonl")
    getfacl_path = os.path.join(out_dir, "getfacl.txt")
    with open(listing_path, "w", encoding="utf-8") as lst, \
            open(getfacl_path, "w", encoding="utf-8") as fac:
        fac.write(f"# file: {MOUNT}\n# owner: root\n# group: root\n"
                  "user::rwx\ngroup::r-x\nother::r-x\n\n")
        for name, is_folder in names:
            meta = {"hdi_permission": _perm_json(
                rng, users, groups, "rwxr-x---" if is_folder else "rw-r-----")}
            if is_folder:
                meta["hdi_isfolder"] = "true"
            elif rng.random() < 0.3:
                meta["tier"] = rng.choice(["hot", "cool", "archive"])
            lst.write(json.dumps({
                "name": name, "metadata": meta,
                "properties": {"contentLength": 0 if is_folder else files[name]},
            }) + "\n")
            fac.write(_getfacl_record(rng, name, is_folder, users, groups))

    identity = []
    for kind, ids in (("user", users), ("group", groups)):
        for src in ids:
            r = rng.random()
            if r < 0.2:
                continue                      # unmapped: the lookup falls back
            target = "" if r < 0.3 else f"{src}@corp.example.com"
            identity.append({"type": kind, "source": src, "target": target})
    identity_path = os.path.join(out_dir, "identity.json")
    with open(identity_path, "w", encoding="utf-8") as f:
        json.dump(identity, f, indent=2)

    return MigrateInputs(listing_path, getfacl_path, identity_path, capacity,
                         files, dirs, ["/"] + [n for n, _ in names])


def _getfacl_record(rng: random.Random, name: str, is_folder: bool,
                    users: list[str], groups: list[str]) -> str:
    lines = [f"# file: {MOUNT}/{name}", f"# owner: {rng.choice(users)}",
             f"# group: {rng.choice(groups)}", "user::rwx"]
    named = False
    if rng.random() < 0.4:
        lines.append(f"user:{rng.choice(users)}:rw-\t#effective:r--")
        named = True
    lines.append("group::r-x")
    if rng.random() < 0.3:
        lines.append(f"group:{rng.choice(groups)}:r--")
        named = True
    if named:
        lines.append("mask::r-x")
    lines.append("other::---")
    if is_folder and rng.random() < 0.5:
        lines.append(f"default:user:{rng.choice(users)}:rwx")
        lines.append("default:mask::rwx")
    return "\n".join(lines) + "\n\n"
