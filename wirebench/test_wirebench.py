"""Tests of the benchmark's own parts (no daemon needed):

    python3 -m pytest wirebench -q
"""

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402
from stats import percentile  # noqa: E402


def test_generator_is_deterministic_per_seed():
    a, b, c = gen.DocGen(5), gen.DocGen(5), gen.DocGen(6)
    da = [gen.dumps(a.doc()) for _ in range(500)]
    assert da == [gen.dumps(b.doc()) for _ in range(500)]
    assert da != [gen.dumps(c.doc()) for _ in range(500)]


def test_generator_shape():
    g = gen.DocGen(1)
    docs = [g.doc() for _ in range(5000)]
    size = sum(len(gen.dumps(d)) for d in docs) / len(docs)
    assert 480 < size < 600
    share_5xx = sum(d["response"]["status"] >= 500 for d in docs) / len(docs)
    assert 0.06 < share_5xx < 0.10
    assert len(g.header_pool) > 5  # the header key pool keeps growing
    assert [d["bk"] for d in docs] == list(range(5000))


def test_percentile_refuses_what_the_sample_cannot_support():
    assert percentile(list(range(19)), 0.5) is None
    assert percentile(list(range(20)), 0.5) == 9
    assert percentile(list(range(99)), 0.9) is None
    assert percentile(list(range(100)), 0.9) == 89
    assert percentile(list(range(999)), 0.99) is None
    assert percentile(list(range(1000)), 0.99) == 989
    assert percentile([], 0.5) is None


def _tiny_store():
    """Six hand-built docs: statuses 200, 500, 200, 503, 404, 502."""
    m = gen.StoreModel()
    for i, status in enumerate([200, 500, 200, 503, 404, 502]):
        m.add({"bk": i, "request": {"path": "/p%d" % i}, "response": {"status": status}})
    return m


def test_fetch_page_oracle_on_a_tiny_store():
    m = _tiny_store()
    f5 = gen.TAIL_5XX
    # "latest" resolves to the last seq (5); a backward page starts before it
    assert m.fetch_page(f5, 5, -1, 100, 6) == [3, 1]
    assert m.fetch_page(f5, 5, -1, 1, 6) == [3]
    # forward pages start AT leftOff
    assert m.fetch_page(f5, 1, 1, 100, 6) == [1, 3, 5]
    assert m.fetch_page(f5, 2, 1, 2, 6) == [3, 5]
    # only visible docs count
    assert m.fetch_page(f5, 0, 1, 100, 4) == [1, 3]
    everything = gen.FETCH_FILTERS[0]
    assert m.fetch_page(everything, 3, -1, 100, 6) == [2, 1, 0]
    assert m.docs[4]["id"] == "000000000000000000000004"


def test_reply_docs_apply_redaction_and_ids():
    m = gen.StoreModel(insertion_redact=("request.path",))
    m.add({"bk": 0, "request": {"path": "/secret"}, "response": {"status": 200}})
    m.add({"bk": 1, "response": {"status": 200}})  # nothing to redact
    assert m.docs[0]["request"]["path"] == gen.REDACTED
    assert m.docs[1] == {"bk": 1, "response": {"status": 200}, "id": gen.index_to_id(1)}
    row = gen.FETCH_FILTERS[-1]
    assert row.kind == "row_backend"
    plain = gen.StoreModel()
    plain.add({"bk": 0, "request": {"path": "/api/x"}, "response": {"status": 503}})
    assert plain.reply_doc(0, row)["request"]["path"] == gen.REDACTED
    assert plain.docs[0]["request"]["path"] == "/api/x"  # the store is untouched


def test_normalize_drops_only_nulls():
    assert gen.normalize({"a": None, "b": {"c": None, "d": 1}, "e": [None, 2]}) == {
        "b": {"d": 1},
        "e": [None, 2],
    }


def test_benchmark_json_names_what_run_prints():
    import json

    import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in bench["end_to_end"]] == run.END_TO_END
    for m in bench["per_layer"]:
        assert run.layer_unit(m["name"]) == m["unit"], m["name"]
