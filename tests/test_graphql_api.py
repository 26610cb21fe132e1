"""GraphQL API golden tests — ports of the reference's bbtest scenarios end
to end THROUGH HTTP: fixture files → ingestion → warehouse → GraphQL JSON.

Assertions are subset-matches of the reference's golden JSON
(graphql_api.feature via FIXTURES.md), same as the reference's bbtest diff.
"""

from __future__ import annotations

import json
import os

import pytest

from data_warehouse_spark.api.http import build_app
from data_warehouse_spark.streaming.ingest import IngestionPipeline, warehouse_store

from .test_ingest import _write_transfer_fixture, write

# ingest/serving e2e tier: full-pipeline ticks / HTTP / store e2e
# (see pytest.ini) - deselected from the per-commit unit core
pytestmark = pytest.mark.slow


@pytest.fixture()
def client(spark, tmp_path):
    root = str(tmp_path / "data")
    os.makedirs(os.path.join(root, "t_TENANT"))
    write(
        os.path.join(root, "t_TENANT_ACC", "account", "ACCOUNT", "snapshot", "0000000000"),
        "CZK FORMAT_T\n",
    )
    _write_transfer_fixture(root)
    store = warehouse_store(spark, str(tmp_path / "wh"))
    IngestionPipeline(spark, root, store).run_once()
    app = build_app(store)
    app.config["TESTING"] = True
    return app.test_client()


def gql(client, query: str, **kw):
    rv = client.post("/graphql", json={"query": query, **kw})
    return rv.status_code, json.loads(rv.data)


# --- golden scenario 1: tenants (graphql_api.feature:3-30) -------------------
def test_tenants_golden(client):
    code, body = gql(client, "query { tenants(limit: 1000, offset: 0) { name } }")
    assert code == 200
    names = {t["name"] for t in body["data"]["tenants"]}
    assert "TENANT" in names  # subset-match semantics


# --- golden scenario 2: account with zero balance (feature:32-67) -------------
def test_account_zero_balance_golden(client):
    code, body = gql(
        client,
        'query { accounts(tenant: "TENANT_ACC", limit: 1000, offset: 0) '
        "{ name currency balance } }",
    )
    assert code == 200
    accounts = body["data"]["accounts"]
    assert {"name": "ACCOUNT", "currency": "CZK", "balance": 0} == {
        k: accounts[0][k] for k in ("name", "currency", "balance")
    }


# --- golden scenario 3: transfer round-trip, signed balances (feature:69-142) --
def test_transfer_roundtrip_golden(client):
    code, body = gql(
        client,
        'query { transfers(tenant: "TENANT_TRN", limit: 1000, offset: 0) '
        "{ transaction transfer status amount currency valueDate "
        "  credit { name balance } debit { name balance } } }",
    )
    assert code == 200
    (tr,) = body["data"]["transfers"]
    assert tr["transaction"] == "TRN" and tr["transfer"] == "TRX"
    assert tr["status"] == "committed"
    assert tr["amount"] == 1 and tr["currency"] == "CZK"
    assert tr["valueDate"] == "2020-01-01T00:00:00"
    assert tr["credit"]["name"] == "CREDIT" and tr["credit"]["balance"] == 1
    assert tr["debit"]["name"] == "DEBIT" and tr["debit"]["balance"] == -1

    code, body = gql(
        client,
        'query { account(tenant: "TENANT_TRN", name: "CREDIT") { balance currency } }',
    )
    assert body["data"]["account"]["balance"] == 1


# --- transport behaviors pinned by the reference ------------------------------
def test_array_wrapped_body(client):
    rv = client.post(
        "/graphql",
        json=[{"query": "query { tenants(limit: 1, offset: 0) { name } }"}],
    )
    assert rv.status_code == 200 and "data" in json.loads(rv.data)


def test_get_query_form(client):
    rv = client.get("/graphql?query={ tenants(limit: 1, offset: 0) { name } }")
    assert rv.status_code == 200 and "data" in json.loads(rv.data)


def test_syntax_error_400(client):
    code, body = gql(client, "query { tenants(limit: } }")
    assert code == 400 and body["errors"]


def test_unknown_field_400(client):
    code, body = gql(client, "query { nonexistent { x } }")
    assert code == 400 and body["errors"]


def test_malformed_body_400(client):
    rv = client.post("/graphql", data="not json", content_type="application/json")
    assert rv.status_code == 400


def test_negative_natural_number_rejected(client):
    code, body = gql(client, "query { tenants(limit: -1, offset: 0) { name } }")
    assert code == 400 and body["errors"]


def test_status_filter_coercion(client):
    code, body = gql(
        client,
        'query { transfers(tenant: "TENANT_TRN", status: "committed", '
        "limit: 10, offset: 0) { transfer } }",
    )
    assert code == 200 and len(body["data"]["transfers"]) == 1
    code, body = gql(
        client,
        'query { transfers(tenant: "TENANT_TRN", status: "rollbacked", '
        "limit: 10, offset: 0) { transfer } }",
    )
    assert code == 200 and body["data"]["transfers"] == []


def test_health_self_query(client):
    rv = client.get("/health")
    assert rv.status_code == 200
    assert json.loads(rv.data) == {"healthy": True, "graphql": True}


def test_point_tenant_and_missing(client):
    code, body = gql(client, 'query { tenant(tenant: "TENANT") { name } }')
    assert body["data"]["tenant"] == {"name": "TENANT"}
    code, body = gql(client, 'query { tenant(tenant: "NOPE") { name } }')
    assert body["data"]["tenant"] is None


def test_exact_decimal_beyond_float53(spark, tmp_path):
    """A balance above 2^53 cents must survive the HTTP edge EXACTLY (the
    reference serializes BigDecimal as an exact JSON number; float64 would
    corrupt the low digits)."""
    root = str(tmp_path / "data")
    t = "t_TEN_BIG"
    amount = "12345678901234567.89"  # != float round-trip
    write(os.path.join(root, t, "account", "BIGC", "snapshot", "0000000000"), "CZK FORMAT_F\n")
    write(os.path.join(root, t, "account", "BIGD", "snapshot", "0000000000"), "CZK FORMAT_F\n")
    write(
        os.path.join(root, t, "transaction", "TBIG"),
        f"committed\nTX TEN_BIG BIGC TEN_BIG BIGD 2020-01-01T00:00:00Z {amount} CZK\n",
    )
    write(os.path.join(root, t, "account", "BIGC", "events", "0000000000", "1_x_TBIG"), "1\n")
    write(os.path.join(root, t, "account", "BIGD", "events", "0000000000", "1_y_TBIG"), "1\n")
    store = warehouse_store(spark, str(tmp_path / "wh"))
    IngestionPipeline(spark, root, store).run_once()
    app = build_app(store)
    app.config["TESTING"] = True
    client = app.test_client()
    rv = client.post(
        "/graphql",
        json={"query": 'query { account(tenant: "TEN_BIG", name: "BIGC") { balance } }'},
    )
    assert rv.status_code == 200
    # raw-token assertion: json.loads would floatify and hide the corruption
    assert amount.encode() in rv.data, rv.data
    assert b"-" + amount.encode() not in rv.data
    rv2 = client.post(
        "/graphql",
        json={"query": 'query { account(tenant: "TEN_BIG", name: "BIGD") { balance } }'},
    )
    assert (b"-" + amount.encode()) in rv2.data, rv2.data


def test_graphiql_ide_served_offline(client):
    """The default IDE page is fully self-contained — zero external
    fetches (the reference embeds its IDE assets and serves them offline,
    GraphQLRouter.scala:66-73; an air-gapped deployment must get a working
    IDE). The CDN GraphiQL page remains an opt-in
    (DATA_WAREHOUSE_GRAPHIQL=cdn)."""
    rv = client.get("/graphql")
    assert rv.status_code == 200
    page = rv.data.decode()
    assert 'id="graphiql"' in page
    assert "fetch('/graphql'" in page  # wired to POST /graphql
    # no external asset references anywhere in the served page
    assert "http://" not in page and "https://" not in page
    assert "<script src" not in page and "link rel" not in page


def test_graphiql_sri_hashes_rendered_when_provided():
    """With SRI hashes configured, every asset tag becomes a cryptographic
    pin (integrity + crossorigin=anonymous); without them, version pins."""
    from data_warehouse_spark.api.http import GRAPHIQL_ASSETS, graphiql_page

    sri = {url: f"sha384-FAKE{i}" for i, url in enumerate(GRAPHIQL_ASSETS.values())}
    page = graphiql_page(sri=sri)
    for url, h in sri.items():
        assert f'integrity="{h}" crossorigin="anonymous"' in page
        assert url in page
    bare = graphiql_page(sri={})
    assert "integrity=" not in bare


def test_dumps_exact_survives_placeholder_shaped_strings():
    """A string VALUE shaped like a decimal placeholder must come back
    verbatim - never be rewritten into a raw numeric token."""
    import decimal
    import json as _json

    from data_warehouse_spark.api.http import _dumps_exact

    evil = "\u0000dec:0\u0000"  # the pre-nonce placeholder shape
    out = _dumps_exact({"s": evil, "d": decimal.Decimal("12345678901234567.89")})
    body = _json.loads(out.replace("12345678901234567.89", '"X"'))
    assert body["s"] == evil
    assert "12345678901234567.89" in out


# --- input-edge hardening (round-4 review findings) --------------------------
def test_non_dict_variables_is_json_400(client):
    rv = client.post(
        "/graphql",
        json={"query": "query { tenants(limit: 1, offset: 0) { name } }",
              "variables": "oops"},
    )
    assert rv.status_code == 400
    assert json.loads(rv.data)["error"] == "variables must be an object"


def test_bad_status_literal_is_400_not_500(client):
    """Scalar-level status coercion: a typo'd status is a query-analysis
    error (400), never a resolver crash (500)."""
    code, body = gql(
        client,
        'query { transfers(tenant: "TENANT_TRN", status: "comitted", '
        "limit: 10, offset: 0) { transfer } }",
    )
    assert code == 400
    assert body["data"] is None and body["errors"]


def test_bad_datetime_literal_is_400_not_silent_empty(client):
    """A malformed valueDate must be rejected, not become a NULL timestamp
    that silently filters every row (200 with [])."""
    code, body = gql(
        client,
        'query { transfers(tenant: "TENANT_TRN", valueDate_gte: "not-a-date", '
        "limit: 10, offset: 0) { transfer } }",
    )
    assert code == 400
    assert body["data"] is None and body["errors"]


def test_amount_filter_stays_exact_decimal(client):
    """Money filters flow as exact decimals: a float-typed argument would
    promote the DECIMAL column to double in the comparison. The fixture
    amount is exactly 1; 0.5 via literal AND via JSON variables must both
    match it, and an exact > 1 filter must exclude it."""
    code, body = gql(
        client,
        'query { transfers(tenant: "TENANT_TRN", amount_gte: 0.5, '
        "limit: 10, offset: 0) { transfer amount } }",
    )
    assert code == 200 and len(body["data"]["transfers"]) == 1
    code, body = gql(
        client,
        "query($a: Decimal) { transfers(tenant: \"TENANT_TRN\", amount_gt: $a, "
        "limit: 10, offset: 0) { transfer } }",
        variables={"a": 1.0000000001},
    )
    assert code == 200 and body["data"]["transfers"] == []


def _single_tenant_client(spark, tmp_path, tenant: str):
    root = str(tmp_path / "data")
    write(
        os.path.join(root, f"t_{tenant}", "account", "A", "snapshot", "0000000000"),
        "CZK FORMAT_T\n",
    )
    store = warehouse_store(spark, str(tmp_path / "wh"))
    IngestionPipeline(spark, root, store).run_once()
    app = build_app(store)
    app.config["TESTING"] = True
    return root, store, app.test_client()


def test_response_cache_hits_and_invalidates(spark, tmp_path):
    """The same request after an ingest tick answers the new state, and an
    error response stays a 400 however often it is sent."""
    root, store, client = _single_tenant_client(spark, tmp_path, "RC")
    q = {"query": "query { tenants(limit: 10, offset: 0) { name } }"}
    first = client.post("/graphql", json=q)
    assert [t["name"] for t in json.loads(first.data)["data"]["tenants"]] == ["RC"]

    bad = {"query": "query { nope }"}
    assert client.post("/graphql", json=bad).status_code == 400
    assert client.post("/graphql", json=bad).status_code == 400

    write(
        os.path.join(root, "t_RC2", "account", "B", "snapshot", "0000000000"),
        "EUR FORMAT_U\n",
    )
    IngestionPipeline(spark, root, store).run_once()
    after = client.post("/graphql", json=q)
    assert after.status_code == 200
    names = [t["name"] for t in json.loads(after.data)["data"]["tenants"]]
    assert names == ["RC", "RC2"]


def test_response_cache_env_disable(spark, tmp_path, monkeypatch):
    """Every request executes: two identical requests run the GraphQL
    executor twice and answer the same bytes."""
    from data_warehouse_spark.api import http

    _root, _store, client = _single_tenant_client(spark, tmp_path, "RCOFF")
    runs = []
    real_execute = http.execute

    def counting_execute(*args, **kwargs):
        runs.append(args[1])
        return real_execute(*args, **kwargs)

    monkeypatch.setattr(http, "execute", counting_execute)
    q = {"query": "query { tenants(limit: 10, offset: 0) { name } }"}
    first = client.post("/graphql", json=q)
    second = client.post("/graphql", json=q)
    assert first.status_code == second.status_code == 200
    assert second.data == first.data
    assert runs == [q["query"], q["query"]]
