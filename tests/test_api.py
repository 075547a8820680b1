"""REST read API (S13): health check contract + parameterized registry
queries, no raw-SQL surface."""

from __future__ import annotations

import json
import urllib.request

import pytest
from conftest import SF_SMALL

from spark_deal_observer_spark.api import create_app, serve_in_background


@pytest.fixture()
def api(spark):
    server = create_app(spark, SF_SMALL)
    serve_in_background(server)
    host, port = server.server_address
    yield f"http://{host}:{port}"
    server.shutdown()


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

    from spark_deal_observer_spark.plans.registry import REGISTRY

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
