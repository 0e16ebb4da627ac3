"""The benchmark's two workloads and their analyst read mixes.

Each workload is one client that submits one collection at a time and,
once the collection family is finished, runs a fixed mix of analyst reads
over it (a closed loop: the next request is sent when the previous one
has returned). The submission is timed from the first create/open call to
the finished family; every read is timed on its own. All outputs are
checked against the generator's answers after the timed part.

- ``crawl_compile``: one-shot ``process_collection`` with compile over
  OCDS 1.1 packages as a crawler delivers them. A third of the releases
  are byte-identical repeats (MD5 dedup), and a few hot OCIDs carry more
  releases than one merge batch (the two-phase compile path). Check is
  not requested. At 7.5k items every load stays under the store's
  driver-side append gate (20k items): the distributed ``store_items``
  path would need almost three times the input and does not fit the
  run-time budget.
- ``open_waves_check``: the Kingfisher Collect shape. OCDS 1.0 packages
  with upgrade and check requested; the collection is opened with one
  file, a further single-file wave is registered and loaded (driver-scale
  load path), and the close runs check over the upgraded releases. One
  release in twenty carries a planted schema error. No repeats and no
  compile: it bypasses dedup and compile, and is dominated by per-file
  fixed cost, upgrade and check.

The read mixes are weighted as a client that polls collection status and
looks up single OCIDs more often than it runs aggregate queries. Every
answer is checked; the latencies are reported per request kind by the
traced run (see NOTES.md for why no read latency is an end-to-end
metric).
"""

from __future__ import annotations

import json
import os
import random
from collections import Counter

import pyarrow.parquet as pq
from pyspark.sql import functions as F

import gen
import oracle

DATA_VERSION = "2021-06-01 00:00:00"

# amounts are read as text and converted with try_cast, so a planted
# non-numeric amount reads as NULL instead of failing the query
READ_SCHEMA = ("buyer STRUCT<name: STRING>, tender STRUCT<status: STRING, "
               "value: STRUCT<amount: STRING, currency: STRING>>, "
               "awards ARRAY<STRUCT<value: STRUCT<amount: STRING>>>")
AMOUNT = "decimal(20,0)"


def _payloads(store, envelopes):
    data = store.read("data").select(F.col("id").alias("data_id"), "data")
    return envelopes.join(data, "data_id")


def _compiled(store, compiled_id: int):
    crs = store.read("compiled_release").where(F.col("collection_id") == compiled_id)
    return _payloads(store, crs).select(F.from_json("data", READ_SCHEMA).alias("r"))


def top_buyers(store, compiled_id: int, k: int = 10) -> list[tuple]:
    awards = _compiled(store, compiled_id).select(
        F.col("r.buyer.name").alias("buyer"),
        F.col("r.tender.value.currency").alias("currency"),
        F.explode("r.awards").alias("a"))
    rows = (awards.groupBy("buyer", "currency")
            .agg(F.sum(F.col("a.value.amount").try_cast(AMOUNT)).alias("total"))
            .orderBy(F.desc("total"), "buyer", "currency").limit(k).collect())
    return [(x["buyer"], x["currency"], x["total"]) for x in rows]


def tender_value(store, compiled_id: int) -> dict:
    rows = (_compiled(store, compiled_id)
            .where(F.col("r.tender.status") == "complete")
            .groupBy(F.col("r.tender.value.currency").alias("currency"))
            .agg(F.sum(F.col("r.tender.value.amount").try_cast(AMOUNT)).alias("total"))
            .where(F.col("total").isNotNull()).collect())
    return {x["currency"]: x["total"] for x in rows}


def release_by_ocid(store, collection_id: int, ocid: str) -> list[str]:
    """Release ids of every release of one OCID, read through the payload."""
    rel = store.read("release").where(
        (F.col("collection_id") == collection_id) & (F.col("ocid") == ocid))
    rows = _payloads(store, rel).select(
        F.get_json_object("data", "$.id").alias("id")).collect()
    return sorted(x["id"] for x in rows)


def error_releases(store, collection_id: int) -> list[str]:
    """Ids of the collection's releases whose check found schema errors."""
    rel = store.read("release").where(F.col("collection_id") == collection_id).select(
        F.col("id").alias("fk"), F.col("release_id").alias("ocds_id"))
    bad = store.read("release_check").where(
        F.get_json_object("cove_output", "$.validation_errors_count").cast("int") > 0
    ).select(F.col("release_id").alias("fk"))
    return sorted(x["ocds_id"] for x in bad.join(rel, "fk").collect())


class StoreFiles:
    """Reads the store's parquet files directly with pyarrow, so the
    checks neither share the engine's read path nor start Spark jobs."""

    def __init__(self, base_dir: str):
        self.base = base_dir

    def column(self, table: str, name: str, collection_id: int | None = None) -> list:
        path = os.path.join(self.base, table)
        if collection_id is not None:
            path = os.path.join(path, f"collection_id={collection_id}")
        if not os.path.isdir(path):
            return []
        return pq.read_table(path, columns=[name], partitioning=None)[name].to_pylist()

    def compiled_payloads(self, compiled_id: int) -> list[str]:
        ids = set(self.column("compiled_release", "data_id", compiled_id))
        data = pq.read_table(os.path.join(self.base, "data"), columns=["id", "data"],
                             partitioning=None)
        return [d for i, d in zip(data["id"].to_pylist(), data["data"].to_pylist())
                if i in ids]


class Workload:
    name = ""
    full: dict = {}
    tiny: dict = {}
    # (request kind, requests per mix); the order is shuffled per seed
    read_mix: tuple = ()

    def generate(self, seed: int, out_dir: str, tiny: bool = False) -> gen.Collection:
        return self.generator(seed, out_dir, **(self.tiny if tiny else self.full))

    def submit(self, spark, store, coll: gen.Collection) -> dict:
        """Run the collection through the engine; returns the family ids."""
        raise NotImplementedError

    def requests(self, rnd, coll: gen.Collection, ids: dict, store, api) -> dict:
        """kind → list of (call, check); ``check`` maps the answer to a
        list of problems."""
        raise NotImplementedError

    def verify(self, store_dir: str, coll: gen.Collection, ids: dict) -> tuple[list[str], dict]:
        """(problems, counts) for one finished submission, read from the
        store's files."""
        raise NotImplementedError

    def reads(self, rnd: random.Random, coll: gen.Collection, ids: dict, store, api,
              one_each: bool = False) -> list[tuple]:
        """The read mix as (kind, call, check), or one request of each kind."""
        calls = self.requests(rnd, coll, ids, store, api)
        mix = []
        for kind, n in self.read_mix:
            options = calls[kind]
            mix += [(kind, *options[i % len(options)])
                    for i in range(1 if one_each else n)]
        rnd.shuffle(mix)
        return mix

    def _common(self, store, coll, ids, api, rnd, meta_id, want_meta, notes_id, n_notes):
        root = ids["root"]
        # the largest OCID and seeded picks among the rest
        probes = [max(coll.ocids, key=lambda o: len(o.releases)),
                  *rnd.sample(coll.ocids, 2)]

        def by_ocid(o):
            want = sorted([r["id"] for r in o.releases] + o.repeated)
            return (lambda: release_by_ocid(store, root, o.ocid),
                    lambda got: oracle.equal(f"releases of {o.ocid}", got, want))

        def meta_check(m):
            return oracle.equal("metadata", {k: m.get(k) for k in want_meta}, want_meta)

        return {
            "query.release_by_ocid": [by_ocid(o) for o in probes],
            "api.metadata": [(lambda: api.metadata(store, meta_id), meta_check)],
            "api.status": [(lambda: api.collection_status(store, root),
                            lambda s: oracle.status_problems(
                                s, len(coll.files), "compiled" in ids))],
            "api.tree": [(lambda: api.tree(store, root),
                          lambda t: oracle.equal("tree", sorted(r["id"] for r in t),
                                                 sorted(ids.values())))],
            "api.notes": [(lambda: api.notes(store, notes_id),
                           lambda n: oracle.equal("notes", len(n), n_notes))],
        }


class CrawlCompile(Workload):
    name = "crawl_compile"
    generator = staticmethod(gen.crawl)
    # 5k distinct + 2.5k repeats = 7.5k items
    full = {"n_unique": 5_000, "hot": [600, 520], "n_files": 8}
    tiny = {"n_unique": 540, "hot": [510], "n_files": 1}
    read_mix = (
        ("api.tree", 1),
        ("api.status", 2),
        ("query.release_by_ocid", 3),
        ("api.notes", 1),
        ("query.tender_value", 1),
        ("query.top_buyers", 1),
        ("api.metadata", 1),
    )

    def submit(self, spark, store, coll):
        from kingfisher_process_spark import pipeline

        r = pipeline.process_collection(
            spark, store, "bench_crawl", DATA_VERSION, coll.files,
            compile_=True, note="benchmark crawl")
        return r["collections"]

    def requests(self, rnd, coll, ids, store, api):
        comp = ids["compiled"]
        pub_from, pub_to = gen.published_range(coll.ocids)
        want_meta = {"ocid_prefix": coll.ocids[0].ocid[:11], "published_from": pub_from,
                     "published_to": pub_to, "license": gen.LICENSE,
                     "publication_policy": gen.POLICY, "version": "1.1"}
        # one repeated-date warning per repeated release
        n_notes = sum(len(o.repeated) for o in coll.ocids)
        calls = self._common(store, coll, ids, api, rnd, comp, want_meta, comp, n_notes)
        want_top = gen.top_buyers(coll.ocids)
        want_tender = gen.tender_value_by_currency(coll.ocids)
        calls["query.top_buyers"] = [(lambda: top_buyers(store, comp),
                                      lambda got: oracle.equal("top buyers", got, want_top))]
        calls["query.tender_value"] = [(lambda: tender_value(store, comp),
                                        lambda got: oracle.equal("tender value", got,
                                                                 want_tender))]
        return calls

    def verify(self, store_dir, coll, ids):
        from kingfisher_process_spark.operators.merge_partial import BATCH

        files = StoreFiles(store_dir)
        problems, counts = [], {"check_items": 0, "error_items": 0}
        n_root = len(files.column("release", "id", ids["root"]))
        problems += oracle.equal("root releases", n_root, coll.n_releases)
        # distinct release payloads plus one compiled payload per OCID
        problems += oracle.equal("data rows", len(files.column("data", "id")),
                                 coll.n_distinct + len(coll.ocids))
        docs = files.compiled_payloads(ids["compiled"])
        problems += oracle.compiled_problems(docs, coll.ocids)
        per_ocid = Counter(files.column("release", "ocid", ids["root"]))
        counts["hot_ocids"] = sum(n > BATCH for n in per_ocid.values())
        want_hot = sum(len(o.releases) + len(o.repeated) > BATCH for o in coll.ocids)
        problems += oracle.equal("hot OCIDs", counts["hot_ocids"], want_hot)
        return problems, counts


class OpenWavesCheck(Workload):
    name = "open_waves_check"
    generator = staticmethod(gen.open_waves)
    full = {"n_waves": 2, "per_wave": 40, "error_every": 20}
    tiny = {"n_waves": 1, "per_wave": 10, "error_every": 10}
    read_mix = (
        ("api.tree", 1),
        ("api.status", 2),
        ("query.release_by_ocid", 2),
        ("query.check_errors", 2),
        ("api.notes", 1),
        ("api.metadata", 1),
    )

    def submit(self, spark, store, coll):
        from kingfisher_process_spark import pipeline

        opened = pipeline.open_collection(
            spark, store, "bench_waves", DATA_VERSION, coll.files[:1],
            upgrade=True, check=True, note="benchmark waves")
        root = opened["collections"]["root"]
        for path in coll.files[1:]:
            pipeline.register_files(spark, store, root, [path])
            pipeline.load_pending(spark, store, root)
        pipeline.close_and_process(spark, store, root)
        return opened["collections"]

    def requests(self, rnd, coll, ids, store, api):
        # no compiled collection: the metadata endpoint finds no compiled
        # releases and reports the root's package metadata only
        want_meta = {"ocid_prefix": None, "published_from": None, "published_to": None,
                     "license": gen.LICENSE, "publication_policy": gen.POLICY}
        root, upg = ids["root"], ids["upgraded"]
        calls = self._common(store, coll, ids, api, rnd, root, want_meta, root, 1)
        calls["query.check_errors"] = [(lambda: error_releases(store, upg),
                                        lambda got: oracle.equal("releases with errors",
                                                                 got, coll.error_ids))]
        return calls

    def verify(self, store_dir, coll, ids):
        files = StoreFiles(store_dir)
        problems, counts = [], {"hot_ocids": 0}
        for role in ("root", "upgraded"):
            n = len(files.column("release", "id", ids[role]))
            problems += oracle.equal(f"{role} releases", n, coll.n_releases)
        outputs = files.column("release_check", "cove_output")
        counts["check_items"] = len(outputs)
        counts["error_items"] = sum(json.loads(o)["validation_errors_count"] > 0
                                    for o in outputs)
        problems += oracle.equal("checked releases", counts["check_items"], coll.n_releases)
        problems += oracle.equal("releases with errors", counts["error_items"],
                                 len(coll.error_ids))
        return problems, counts


WORKLOADS = {w.name: w for w in (CrawlCompile(), OpenWavesCheck())}
