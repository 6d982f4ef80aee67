"""The three workloads: one *pass* is a fixed list of operations, each
operation a call into the package's public entry points, each output
checked.

* ``migrate``     - the reference's three pipelines over seeded inputs;
* ``query_mix``   - a fixed registry-query list at sf0.1;
* ``query_floor`` - the same list and order at sf0.001.
"""

from __future__ import annotations

import glob
import json
import os
import random
import shutil
from collections import Counter

from databox_adls_loader_spark.cache import release_cached
from databox_adls_loader_spark.plans.pipelines import (acl_pipeline,
                                                       copy_pipeline,
                                                       generate_filelists)
from databox_adls_loader_spark.plans.queries import (REGISTRY, all_oracles,
                                                     all_queries)
from databox_adls_loader_spark.session import ALL_TABLES
from databox_adls_loader_spark.sources.acl_scan import (assemble_acl_records,
                                                        read_getfacl_text)
from databox_adls_loader_spark.sources.identity import read_identity_map
from databox_adls_loader_spark.sources.inventory import (project_inventory,
                                                         read_blob_listing)
from bench import HEADLINE
from tools.check_correctness import value_hash

from .fakes import (ERROR, NOT_FOUND, AclEndpoint, DirectoryCreator,
                    FileCopier, injected_outcome)
from .inputs import make_inputs

# Stand-ins, not measured or published figures (README, "migrate inputs"):
# the file count is set by the time budget, the service time keeps each
# request's wait off the client's CPU, and the failure shares make every
# pass run the not-found and error paths.
MIGRATE_FILES = 8_000
SERVICE_S = 50e-6                  # per request, every fake
ACL_NOT_FOUND_BP, ACL_ERROR_BP = 100, 50   # 1 % and 0.5 % of ACL requests
COPY_ERROR_BP = 100                        # 1 % of file copies


# named picks beyond the stratified sample, each with its reason
EXTRA = (
    "e2_session_window",    # the only registry query that reaches streaming/
)


# middle picks with this tag are left out: each builds a per-session
# fixture (versioned table, bucketed copy, index lifecycle) that costs
# 2-14 s in the cold warm-up pass, and a run has no time budget for them
SKIP_TAG = "scale"


def query_list() -> list[str]:
    """bench.py's HEADLINE plus, from every other ``plans/queries*`` module,
    the query at the middle of its sorted names (by position, never by
    cost; the ``queries`` module is represented by HEADLINE) unless it is
    tagged SKIP_TAG, plus EXTRA."""
    by_module: dict[str, list[str]] = {}
    for name, fn in all_queries().items():
        by_module.setdefault(fn.__module__.rsplit(".", 1)[1], []).append(name)
    names = list(HEADLINE)
    for module in sorted(by_module):
        if module != "queries":
            members = sorted(by_module[module])
            middle = members[len(members) // 2]
            if SKIP_TAG not in REGISTRY[middle]["tags"]:
                names.append(middle)
    return names + [n for n in EXTRA if n not in names]


def oracle_hashes(sf_dir: str, names: list[str]) -> dict[str, tuple]:
    """Expected (value hash, sorted columns) per query from its DuckDB
    oracle at ``sf_dir`` - never from Spark's own output."""
    import duckdb

    oracles = all_oracles()
    con = duckdb.connect()
    try:
        for t in ALL_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(sf_dir, t)}.parquet'")
        out = {}
        for name in names:
            res = con.execute(oracles[name])
            cols = [d[0] for d in res.description]
            out[name] = (value_hash(res.fetchall(), cols), sorted(cols))
        return out
    finally:
        con.close()


class QueryWorkload:
    """Each operation builds a fresh plan from the registry, collects it
    and releases the cache: latency runs from plan build through release."""

    def __init__(self, sf_dir: str, seed: int):
        self.sf_dir = sf_dir
        self.ops = query_list()
        random.Random(seed).shuffle(self.ops)
        self.queries = all_queries()
        self.expected: dict[str, tuple] = {}

    def prepare(self, spark, work_dir: str) -> None:
        self.spark = spark

    def run(self, name: str, tr) -> tuple:
        spark = self.spark
        with tr.phase("plans.build"):
            df = self.queries[name](spark, self.sf_dir)
        with tr.phase("action"):
            rows = df.collect()
            cols = df.columns
        persisted = spark.sparkContext._jsc.getPersistentRDDs().size()
        with tr.phase("cache.release"):
            release_cached(spark)
        return (rows, cols), persisted

    def check(self, name: str, output) -> list[str]:
        if not self.expected:
            self.expected = oracle_hashes(self.sf_dir, self.ops)
        rows, cols = output
        got = (value_hash([tuple(r) for r in rows], cols), sorted(cols))
        return [] if got == self.expected[name] else [f"{name}: oracle mismatch"]


class MigrateWorkload:
    """One pass = ``generate_filelists``, ``acl_pipeline(mode="apply")``,
    ``copy_pipeline`` over the seeded inventory, ACL dump and identity map."""

    ops = ("filelists", "acl_apply", "copy")

    def __init__(self, seed: int):
        self.seed = seed
        self._n = 0
        self.sink_totals = Counter()
        self.packing: dict = {}

    def prepare(self, spark, work_dir: str) -> None:
        """Input generation belongs to set-up."""
        self.spark = spark
        self.work = work_dir
        self.inp = make_inputs(os.path.join(work_dir, "inputs"), self.seed,
                               MIGRATE_FILES)

    def _out(self, kind: str) -> str:
        self._n += 1
        path = os.path.join(self.work, "out", f"{self._n:04d}-{kind}")
        os.makedirs(path)
        return path

    def run(self, name: str, tr) -> tuple:
        spark, inp = self.spark, self.inp
        sc = spark.sparkContext
        out = self._out(name)
        if name == "filelists":
            with tr.phase("sources.read"):
                inv = project_inventory(read_blob_listing(spark, inp.listing_path))
            with tr.phase("plans.pipeline"):
                alloc = generate_filelists(inv, os.path.join(out, "lists"),
                                           capacity=inp.capacity)
            with tr.phase("action"):
                rows = alloc.collect()
            result = (name, out, rows)
        elif name == "acl_apply":
            with tr.phase("sources.read"):
                acls = assemble_acl_records(read_getfacl_text(spark, inp.getfacl_path))
                ids = read_identity_map(spark, inp.identity_path)
            sender = AclEndpoint(sc, SERVICE_S, ACL_NOT_FOUND_BP, ACL_ERROR_BP)
            with tr.phase("plans.pipeline"):
                acl_pipeline(acls, ids, mode="apply", sender=sender,
                             effects_dir=os.path.join(out, "effects"))
            result = (name, out, sender.counters())
        else:
            with tr.phase("sources.read"):
                inv = project_inventory(read_blob_listing(spark, inp.listing_path))
                ids = read_identity_map(spark, inp.identity_path)
            creator = DirectoryCreator(sc, SERVICE_S, out)
            copier = FileCopier(sc, SERVICE_S, 0, COPY_ERROR_BP)
            with tr.phase("plans.pipeline"):
                stats = copy_pipeline(inv, ids, creator, copier)
            result = (name, out, (stats, creator.counters(), copier.counters()))
        persisted = sc._jsc.getPersistentRDDs().size()
        with tr.phase("cache.release"):
            release_cached(spark)
        return result, persisted

    # ------------------------------------------------------------ checks

    def check(self, name: str, output) -> list[str]:
        _, out, payload = output
        try:
            if name == "filelists":
                return self._check_filelists(out, payload)
            if name == "acl_apply":
                return self._check_acl(out, payload)
            return self._check_copy(out, *payload)
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def _sizes(self) -> dict[str, int]:
        """Size of every file and folder, computed from the inputs."""
        if not hasattr(self, "_size_cache"):
            sizes = dict(self.inp.files)
            for f, s in self.inp.files.items():
                parts = f.split("/")
                for i in range(1, len(parts)):
                    d = "/".join(parts[:i])
                    sizes[d] = sizes.get(d, 0) + s
            self._size_cache = sizes
        return self._size_cache

    def _check_filelists(self, out: str, rows) -> list[str]:
        inp, cap = self.inp, self.inp.capacity
        errors = []
        alloc = {r["path"]: (r["size"], r["unit"]) for r in rows}
        if len(alloc) != len(rows):
            errors.append("filelists: a path is allocated twice")
        sizes = self._sizes()
        listed: dict[str, int] = {}
        for part in glob.glob(os.path.join(out, "lists", "unit=*", "part-*")):
            unit = int(os.path.basename(os.path.dirname(part)).split("=")[1])
            with open(part, encoding="utf-8") as f:
                for line in f:
                    p = line.rstrip("\n")
                    if p in listed:
                        errors.append(f"filelists: {p} listed twice")
                    listed[p] = unit
        if listed != {p: u for p, (_, u) in alloc.items() if u != 0}:
            errors.append("filelists: written lists differ from the allocation")
        fill: Counter = Counter()
        for p, (size, unit) in alloc.items():
            if sizes.get(p) != size:
                errors.append(f"filelists: {p} size {size} != {sizes.get(p)}")
            if unit:
                fill[unit] += size
            elif size <= cap or p not in inp.files:
                errors.append(f"filelists: {p} left at unit 0 but splittable "
                              "or fitting")
        errors += [f"filelists: unit {u} holds {b} > {cap}"
                   for u, b in fill.items() if b > cap]
        for f in inp.files:
            parts = f.split("/")
            cover = [p for p in ("/".join(parts[:i])
                                 for i in range(1, len(parts) + 1))
                     if p in alloc]
            if len(cover) != 1:
                errors.append(f"filelists: {f} covered by {cover}")
        self.packing = {
            "units": len(fill),
            "fill_ratio": sum(fill.values()) / (len(fill) * cap) if fill else 0.0,
        }
        return errors[:20]

    def _expected(self, paths, nf_bp: int, err_bp: int) -> Counter:
        return Counter(injected_outcome(p, nf_bp, err_bp) for p in paths)

    def _check_acl(self, out: str, fake: dict) -> list[str]:
        errors = []
        logged = []
        for fn in glob.glob(os.path.join(out, "effects", "*.jsonl")):
            with open(fn, encoding="utf-8") as f:
                logged += [json.loads(line) for line in f]
        want = self._expected(self.inp.acl_paths, ACL_NOT_FOUND_BP, ACL_ERROR_BP)
        got = Counter(r["status"] for r in logged)
        if got != want:
            errors.append(f"acl: effects statuses {dict(got)} != injected "
                          f"{dict(want)}")
        if sorted(r["path"] for r in logged) != sorted(self.inp.acl_paths):
            errors.append("acl: effects log paths differ from the ACL records")
        if (fake["requests"], fake["not_found"], fake["errors"]) != (
                len(self.inp.acl_paths), want[NOT_FOUND], want[ERROR]):
            errors.append(f"acl: fake counters {fake} != expected {dict(want)}")
        self._count_sink(fake)
        return errors

    def _check_copy(self, out: str, stats: dict, creator: dict,
                    copier: dict) -> list[str]:
        errors = []
        folders = self.inp.folders
        created: dict[str, int] = {}
        for fn in glob.glob(os.path.join(out, "mkdir-*.log")):
            with open(fn, encoding="utf-8") as f:
                for line in f:
                    t, p = line.rstrip("\n").split(" ", 1)
                    if p in created:
                        errors.append(f"copy: {p} created twice")
                    created[p] = int(t)
        if stats.get("directories") != len(folders) or set(created) != set(folders):
            errors.append(f"copy: {len(created)} creates, "
                          f"{stats.get('directories')} reported, "
                          f"{len(folders)} folders")
        for p, t in created.items():
            parent = p.rsplit("/", 1)[0] if "/" in p else None
            if parent is not None and not created.get(parent, t) < t:
                errors.append(f"copy: {p} created before its parent")
                break
        want = self._expected(self.inp.files, 0, COPY_ERROR_BP)
        if (copier["requests"], copier["errors"]) != (len(self.inp.files),
                                                      want[ERROR]):
            errors.append(f"copy: copier counters {copier} != expected "
                          f"{dict(want)}")
        self._count_sink(copier)
        self._count_sink(creator)
        return errors

    def _count_sink(self, fake: dict) -> None:
        self.sink_totals["requests"] += fake["requests"]
        self.sink_totals["ok"] += (fake["requests"] - fake["not_found"]
                                   - fake["errors"])
        self.sink_totals["wait_us"] += int(fake["wait_s"] * 1e6)
