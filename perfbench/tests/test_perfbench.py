"""Self-tests of the benchmark: generator determinism, the oracle's power
to reject wrong answers, and span self-time arithmetic. None starts Spark.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import filecmp
import random
import time

import gen
import oracle
import spans
from spans import Span, Tracer, self_times


def _generate(tmp_path, seed, name):
    return gen.crawl(seed, str(tmp_path / name), n_unique=900, hot=[600], n_files=2)


def test_generator_is_deterministic_per_seed(tmp_path):
    a = _generate(tmp_path, 7, "a")
    b = _generate(tmp_path, 7, "b")
    assert len(a.files) == len(b.files) == 2
    for fa, fb in zip(a.files, b.files):
        assert filecmp.cmp(fa, fb, shallow=False)
    assert a.n_releases == b.n_releases == 900 + 450
    assert [o.merged_fields() for o in a.ocids] == [o.merged_fields() for o in b.ocids]


def test_generator_differs_across_seeds(tmp_path):
    a = _generate(tmp_path, 7, "a")
    c = _generate(tmp_path, 8, "c")
    assert open(a.files[0]).read() != open(c.files[0]).read()
    assert gen.top_buyers(a.ocids) != gen.top_buyers(c.ocids)


def test_waves_plant_the_stated_errors(tmp_path):
    w = gen.open_waves(3, str(tmp_path / "w"), n_waves=3, per_wave=100, error_every=20)
    assert len(w.files) == 3 and w.n_releases == 300
    bad = sorted(r["id"] for o in w.ocids for r in o.releases
                 if r["tender"]["value"]["amount"] == gen.BAD_AMOUNT)
    assert len(bad) == 15 and bad == w.error_ids


def _compiled_doc(o: gen.Ocid) -> dict:
    """What a correct compile of the OCID's releases yields."""
    f = o.merged_fields()
    return {"ocid": o.ocid, "id": f"{o.ocid}-{f['date']}", "date": f["date"],
            "tag": ["compiled"], "buyer": {"id": "b", "name": f["buyer"]},
            "tender": {"status": f["status"],
                       "value": {"amount": f["amount"], "currency": f["currency"]}},
            "awards": [{"id": i, "value": {"amount": a}} for i, a in f["awards"]]}


def test_oracle_accepts_right_and_flags_corrupted_compiled_answer(tmp_path):
    import json

    coll = _generate(tmp_path, 1, "a")
    docs = [_compiled_doc(o) for o in coll.ocids]
    assert oracle.compiled_problems([json.dumps(d) for d in docs], coll.ocids) == []

    rnd = random.Random(0)
    corruptions = [
        lambda d: d["tender"].update(status="planning"),
        lambda d: d["awards"][0]["value"].update(amount=d["awards"][0]["value"]["amount"] + 1),
        lambda d: d.update(date="1999-01-01T00:00:00Z"),
        lambda d: d["buyer"].update(name="Someone else"),
    ]
    for corrupt in corruptions:
        bad = copy.deepcopy(docs)
        corrupt(bad[rnd.randrange(len(bad))])
        problems = oracle.compiled_problems([json.dumps(d) for d in bad], coll.ocids)
        assert len(problems) == 1, problems
    # a missing and a duplicated compiled release are both flagged
    assert oracle.compiled_problems([json.dumps(d) for d in docs[1:]], coll.ocids)
    assert oracle.compiled_problems([json.dumps(d) for d in docs + docs[:1]], coll.ocids)


class _FakeWorkload:
    """Answers one read wrongly; everything else is right."""

    def submit(self, spark, store, coll):
        return {"root": 1, "compiled": 2}

    def reads(self, rnd, coll, ids, store, api, one_each=False):
        return [("api.tree", lambda: [{"id": 1}, {"id": 2}],
                 lambda t: oracle.equal("tree", [r["id"] for r in t], [1, 2])),
                ("query.top_buyers", lambda: [("Buyer 1", "USD", 5)],
                 lambda got: oracle.equal("top buyers", got, [("Buyer 1", "USD", 6)]))]

    def verify(self, store_dir, coll, ids):
        return [], {}


def test_corrupted_answer_makes_error_rate_nonzero(tmp_path):
    import run

    r = run.Run(None, _FakeWorkload(), 1, str(tmp_path), Tracer())
    out = r.cycle(coll=None)
    assert len(out["reads"]) == 2
    assert r.attempted == 3 and r.failed == 1
    assert r.failed / r.attempted > 0
    assert "top buyers" in r.problems[0]


def test_self_time_is_duration_minus_children_cover():
    s = [Span(0, None, 1, "root", 0.0, 10.0),
         Span(1, 0, 1, "a", 1.0, 4.0),
         Span(2, 0, 1, "b", 3.0, 5.0),     # overlaps a: union 1..5 = 4 s
         Span(3, 0, 1, "c", 8.0, 12.0),    # runs past its parent: 8..10 counts
         Span(4, 1, 1, "a.child", 2.0, 3.0)]
    st = self_times(s)
    assert st[0] == 10.0 - 4.0 - 2.0
    assert st[1] == 3.0 - 1.0
    assert st[2] == 2.0
    assert st[4] == 1.0


def test_tracer_spans_nest_and_disabled_tracer_records_nothing():
    t = Tracer()
    wrapped = t.wrap("layer.f", lambda x: time.sleep(x) or x)
    wrapped(0.001)
    assert t.spans == []
    t.enabled = True
    with t.span("outer"):
        time.sleep(0.02)
        wrapped(0.03)
    inner, outer = t.spans
    assert (inner.name, inner.parent, outer.parent) == ("layer.f", outer.id, None)
    st = self_times(t.spans)
    assert abs(st[outer.id] - (outer.duration - inner.duration)) < 1e-9
    assert st[outer.id] >= 0.02


def test_store_tree_stats(tmp_path):
    (tmp_path / "t").mkdir()
    (tmp_path / "t" / "part-0.parquet").write_bytes(b"x" * 10)
    (tmp_path / "t" / "_SUCCESS").write_bytes(b"")
    assert spans.tree_stats(str(tmp_path)) == (1, 10)


def test_reported_metrics_match_benchmark_json():
    import json
    import os

    import run

    with open(os.path.join(run.ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    t = Tracer()
    t.enabled, t.request = True, 2
    with t.span("submission"):
        with t.span("loader.store") as sp:
            sp.attrs.update(items=30, new_payloads=20)
    cycles = [{"traced": True, "request": 2, "wall_s": 2.2, "submit_s": 1.1,
               "reads": [("api.tree", 6.0)], "files": 3, "bytes": 50,
               "counts": {"hot_ocids": 1, "error_items": 0}},
              {"traced": False, "request": 3, "wall_s": 2.0, "submit_s": 1.0,
               "reads": [("api.tree", 5.0), ("api.status", 9.0)], "files": 3, "bytes": 50}]
    coll = gen.Collection(files=[], n_releases=100, input_bytes=100, ocids=[])
    e2e = run.end_to_end(12.0, coll, cycles)
    assert list(e2e) == [m["name"] for m in bench["end_to_end"]]
    assert all(v > 0 for v, _ in e2e.values())
    layers = run.per_layer(t, cycles, {"session_s": 8.0, "gen_s": 0.5}, 2**30)
    assert sorted(layers) == sorted(m["name"] for m in bench["per_layer"])
    units = {m["name"]: m["unit"] for m in bench["per_layer"] + bench["end_to_end"]}
    assert all(units[k] == u for k, (_, u) in {**e2e, **layers}.items())
    assert layers["loader.dedup_hit_ratio"][0] == 1 / 3
    assert abs(layers["trace.overhead_ratio"][0] - 1.1) < 1e-9
