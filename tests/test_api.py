"""REST read API (S13): health check contract + parameterized registry
queries, no raw-SQL surface, each query built once per server."""

from __future__ import annotations

import contextlib
import json
import shutil
import sys
import urllib.request
from concurrent.futures import ThreadPoolExecutor

import pytest
from conftest import SF_SMALL

from spark_deal_observer_spark.api import create_app, serve_in_background
from spark_deal_observer_spark.plans.registry import REGISTRY, QueryDef


@contextlib.contextmanager
def _serving(spark):
    server = create_app(spark, SF_SMALL)
    serve_in_background(server)
    host, port = server.server_address
    try:
        yield f"http://{host}:{port}"
    finally:
        server.shutdown()
        server.server_close()


@pytest.fixture()
def api(spark):
    with _serving(spark) as url:
        yield url


def _get(url: str):
    with urllib.request.urlopen(url, timeout=120) as resp:
        return resp.status, resp.read()


def test_health_check(api):
    status, body = _get(f"{api}/")
    assert status == 200
    assert body == b"OK"  # the reference returns exactly 'OK' (app.js:16-18)


def test_query_catalog_listed(api):
    status, body = _get(f"{api}/queries")
    names = json.loads(body)["queries"]
    assert status == 200
    assert "eligible_deals" in names and "count_by_state" in names


def test_parameterized_query(api, spark):
    status, body = _get(f"{api}/query?name=count_by_state")
    payload = json.loads(body)
    assert status == 200

    direct = {
        (r["payload_retrievability_state"], r["n"])
        for r in (row.asDict() for row in REGISTRY["count_by_state"].fn(spark, SF_SMALL).collect())
    }
    via_api = {(r["payload_retrievability_state"], r["n"]) for r in payload["rows"]}
    assert via_api == direct


def test_row_cap_enforced(api):
    status, body = _get(f"{api}/query?name=project_computed&limit=5")
    payload = json.loads(body)
    assert status == 200
    assert payload["n"] == 5


def test_unknown_query_404(api):
    try:
        status, _ = _get(f"{api}/query?name=drop_tables")
        raise AssertionError("expected HTTPError")
    except urllib.error.HTTPError as e:
        assert e.code == 404


@pytest.mark.parametrize("limit", ["abc", "-1", "1.5"])
def test_bad_limit_is_a_400_json_error(api, limit):
    """A malformed or negative `limit` gets a JSON 400, not a dropped
    connection or an unchecked DataFrame.limit."""
    with pytest.raises(urllib.error.HTTPError) as err:
        _get(f"{api}/query?name=eligible_deals&limit={limit}")
    assert err.value.code == 400
    assert err.value.headers["Content-Type"] == "application/json"
    assert "limit" in json.loads(err.value.read())["error"]


@contextlib.contextmanager
def _registered(name: str, fn):
    """Register `fn` under `name`, counting its builds; the registry entry
    is restored (or removed) on exit."""
    builds: list[int] = []
    had = REGISTRY.get(name)

    def counted(spark, sf_dir):
        builds.append(1)
        return fn(spark, sf_dir)

    REGISTRY[name] = QueryDef(counted, had.oracle if had else None)
    try:
        yield builds
    finally:
        if had is None:
            del REGISTRY[name]
        else:
            REGISTRY[name] = had


def _rows(url: str, name: str) -> list[dict]:
    status, body = _get(f"{url}/query?name={name}")
    assert status == 200
    return json.loads(body)["rows"]


def _direct(spark, name: str) -> list[dict]:
    """The rows of a direct build of `name`, as the API's JSON renders them."""
    rows = [r.asDict(recursive=True) for r in REGISTRY[name].fn(spark, SF_SMALL).collect()]
    return json.loads(json.dumps(rows, default=str))


def _sorted(rows: list[dict]) -> list[str]:
    return sorted(json.dumps(r, sort_keys=True) for r in rows)


def test_query_is_built_once_per_server(spark):
    """Three requests build the query once and each answers the rows of a
    direct build."""
    direct = _direct(spark, "count_by_state")
    with _registered("count_by_state", REGISTRY["count_by_state"].fn) as builds:
        with _serving(spark) as url:
            for _ in range(3):
                assert _sorted(_rows(url, "count_by_state")) == _sorted(direct)
    assert len(builds) == 1


def test_concurrent_first_requests_build_once(spark):
    """Eight threads, more than the cores, asking for one unbuilt query at
    once get identical rows from one build."""
    direct = _direct(spark, "eligible_deals")
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        with _registered("eligible_deals", REGISTRY["eligible_deals"].fn) as builds:
            with _serving(spark) as url, ThreadPoolExecutor(8) as pool:
                answers = list(pool.map(lambda _: _rows(url, "eligible_deals"), range(8)))
    finally:
        sys.setswitchinterval(interval)
    assert len(builds) == 1
    for rows in answers:
        assert _sorted(rows) == _sorted(direct)


def test_held_query_over_replaced_files_is_rebuilt(spark, tmp_path):
    """A held DataFrame whose files were replaced fails to run; the same
    request rebuilds it and answers the new rows."""
    table = tmp_path / "t"

    def write(ids, staging: str) -> None:
        spark.range(*ids).write.parquet(str(tmp_path / staging))
        shutil.rmtree(table, ignore_errors=True)
        shutil.move(str(tmp_path / staging), str(table))

    write((0, 3), "first")
    with _registered("test_held_scan", lambda s, _: s.read.parquet(str(table))) as builds:
        with _serving(spark) as url:
            assert sorted(r["id"] for r in _rows(url, "test_held_scan")) == [0, 1, 2]
            write((10, 14), "second")  # new part files, new names
            assert sorted(r["id"] for r in _rows(url, "test_held_scan")) == [10, 11, 12, 13]
    assert len(builds) == 2


def test_failing_build_is_a_500_and_is_retried(spark):
    """A build that raises answers a JSON 500, and the next request tries a
    fresh build rather than remembering the failure."""

    def broken(spark, sf_dir):
        raise RuntimeError("no such table")

    with _registered("test_broken_build", broken) as builds:
        with _serving(spark) as url:
            for attempt in (1, 2):
                with pytest.raises(urllib.error.HTTPError) as err:
                    _get(f"{url}/query?name=test_broken_build")
                assert err.value.code == 500
                assert err.value.headers["Content-Type"] == "application/json"
                assert "no such table" in json.loads(err.value.read())["error"]
                assert len(builds) == attempt
