"""Tests of the benchmark's own parts; no Spark session is started.

    python3 -m pytest migbench -q -p no:cacheprovider
"""

from __future__ import annotations

import io
import json
import types
import urllib.error
import urllib.request

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

import fixture
import spans
from chstub import CHStub, split_format


# --- percentile and sample count ---------------------------------------------


def test_percentile_counts_samples_beyond():
    values = [float(v) for v in range(1, 21)]  # 1..20
    assert spans.percentile(values, 0.5) == (10.0, 10)
    assert spans.percentile(values, 0.9) == (18.0, 2)
    assert spans.percentile(values, 1.0) == (20.0, 0)
    assert spans.percentile([3.0], 0.9) == (3.0, 0)
    with pytest.raises(ValueError):
        spans.percentile([], 0.5)


def test_summary_reports_p90_only_with_ten_samples_beyond():
    few = spans.summary([5.0, 1.0, 3.0, 2.0])
    assert few["p50"] == 2.5 and few["samples"] == 4 and few["p90"] is None
    many = spans.summary([float(v) for v in range(1, 101)])  # 10 beyond p90
    assert many["samples"] == 100 and many["p90"] == 90.0


# --- self-time arithmetic -----------------------------------------------------


def _span(name, start, end, parent):
    return spans.Span(name, float(start), float(end), parent, 0)


def test_self_times_subtract_direct_children_only():
    tree = [
        _span("op", 0, 10, None),
        _span("a", 1, 4, 0),
        _span("b", 5, 9, 0),
        _span("c", 6, 7, 2),
    ]
    assert spans.self_times(tree) == [3.0, 3.0, 3.0, 1.0]
    assert sum(spans.self_times(tree)) == 10.0  # the root's wall time


def test_layer_self_times_group_by_name_within_one_op():
    t = spans.Tracer()
    t.spans = [
        spans.Span("op", 0.0, 10.0, None, 1),
        spans.Span("copy", 1.0, 3.0, 0, 1),
        spans.Span("copy", 3.0, 6.0, 0, 1),
        spans.Span("op", 20.0, 30.0, None, 2),  # another op: ignored
        spans.Span("flush", 4.0, 5.0, 2, 1),
    ]
    assert spans.layer_self_times(t, 1) == {"op": 5.0, "copy": 4.0, "flush": 1.0}


def test_wrappers_record_only_while_on():
    t = spans.Tracer()
    mod = types.SimpleNamespace(f=lambda x: x + 1)
    seen = []
    t.wrap(mod, "f", "layer.f", after=lambda args, r: seen.append((args, r)))
    assert mod.f(1) == 2 and t.spans == [] and seen == []
    t.on, t.op = True, 7
    with t.span("op"):
        assert mod.f(2) == 3
    assert [(s.name, s.parent, s.op) for s in t.spans] == [("op", None, 7), ("layer.f", 0, 7)]
    assert seen == [((2,), 3)]


def test_context_wrapper_times_enter_and_exit_and_reraises():
    import contextlib

    events = []

    @contextlib.contextmanager
    def lock():
        events.append("in")
        yield "held"
        events.append("out")

    t = spans.Tracer()
    mod = types.SimpleNamespace(lock=lock)
    t.wrap_context(mod, "lock", "lock")
    t.on = True
    with mod.lock() as v:
        assert v == "held"
    assert [s.name for s in t.spans] == ["lock.acquire", "lock.release"]
    with pytest.raises(KeyError):
        with mod.lock():
            raise KeyError("boom")
    assert events == ["in", "out", "in"]
    assert [s.name for s in t.spans][-2:] == ["lock.acquire", "lock.release"]


# --- the seeded fixture --------------------------------------------------------


def test_fixture_is_seeded_and_hits_every_month():
    a = fixture.orders(5, rows=500, months=7)
    assert a.equals(fixture.orders(5, rows=500, months=7))
    assert not a.equals(fixture.orders(6, rows=500, months=7))
    months = {(d.year, d.month) for d in a.column("o_orderdate").to_pylist()}
    assert len(months) == 7
    li = fixture.lineitem(5, rows=1000, months=30)
    assert li.schema.field("l_shipdate").type == pa.timestamp("us")
    assert len({(d.year, d.month) for d in li.column("l_shipdate").to_pylist()}) == 30


# --- the ClickHouse-HTTP stub --------------------------------------------------


@pytest.fixture()
def stub(tmp_path):
    path = fixture.write(fixture.orders(1, rows=100, months=3), str(tmp_path), "orders")
    with CHStub({"orders": path}) as s:
        yield s


def _post(url: str, sql: str) -> bytes:
    req = urllib.request.Request(url, data=sql.encode(), method="POST")
    with urllib.request.urlopen(req, timeout=10) as resp:  # noqa: S310 — local stub
        return resp.read()


def test_split_format():
    assert split_format("SELECT 1 FORMAT ArrowStream") == ("SELECT 1", "ArrowStream")
    assert split_format("SELECT 1") == ("SELECT 1", None)


@pytest.mark.parametrize("fmt", ["ArrowStream", "Parquet", "JSONEachRow"])
def test_stub_answers_in_the_requested_format(stub, fmt):
    raw = _post(stub.url, f"SELECT o_orderkey FROM orders WHERE o_orderkey < 10 FORMAT {fmt}")
    if fmt == "ArrowStream":
        keys = pa.ipc.open_stream(pa.BufferReader(raw)).read_all().column(0).to_pylist()
    elif fmt == "Parquet":
        keys = pq.read_table(io.BytesIO(raw)).column(0).to_pylist()
    else:
        keys = [json.loads(line)["o_orderkey"] for line in raw.decode().splitlines()]
    assert sorted(keys) == list(range(10))
    c = stub.snapshot()
    assert (c["requests"], c["rows"], c["wire_bytes"]) == (1, 10, len(raw))


@pytest.mark.parametrize("sql", ["SELECT 1 FORMAT Pretty", "SELECT 1", "SELEC 1 FORMAT Parquet"])
def test_stub_refuses_what_it_cannot_answer(stub, sql):
    with pytest.raises(urllib.error.HTTPError) as err:
        _post(stub.url, sql)
    assert err.value.code == 400


def test_stub_counts_wire_probes_apart(stub):
    from clickhousemigrators3_spark.sources.clickhouse_http import negotiate_wire_format

    assert negotiate_wire_format(stub.url) == "ArrowStream"
    c = stub.snapshot()
    assert c["probes"] == 1 and c["requests"] == 0


def test_injected_crash_is_not_retried(stub):
    from clickhousemigrators3_spark.sources.clickhouse_http import _post as client_post

    stub.fail_when = lambda: True
    with pytest.raises(urllib.error.HTTPError) as err:
        client_post(stub.url, b"SELECT 1 AS x FORMAT JSONEachRow", 10, retries=2, retry_backoff=0)
    assert err.value.code == 400
    assert stub.snapshot()["requests"] == 1  # the client gave up after one request
    # probes still succeed, so a crash hits data reads only
    assert json.loads(_post(stub.url, "SELECT 1 AS _wire_probe FORMAT JSONEachRow")) == {"_wire_probe": 1}
    stub.fail_when = None
    assert json.loads(_post(stub.url, "SELECT 1 AS x FORMAT JSONEachRow")) == {"x": 1}
