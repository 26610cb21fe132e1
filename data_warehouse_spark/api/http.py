"""HTTP transport for the GraphQL API (reference: GraphQLRouter.scala /
RootRouter.scala / HealthCheckRouter.scala).

Routes and behaviors pinned by the reference:
  POST /graphql   body = JSON object {query, operationName, variables} OR a
                  JSON array whose FIRST element is that object
                  (GraphQLRouter.scala:14-56); malformed → 400
  GET  /graphql   ?query=... form (GraphQLRouter.scala:57-64)
  GET  /health    executes a real self-query ``tenants(limit:1, offset:0)``
                  through the full stack and reports
                  {"healthy": bool, "graphql": bool}
                  (HealthCheckService.scala:8-18)
Error mapping: GraphQL syntax/validation errors → 400 with error JSON;
execution errors → 500 (RootRouter.scala:22-41).
"""

from __future__ import annotations

import decimal
import json
import os
import re
import secrets

from flask import Flask, Response, request

from .graphql_schema import execute

# the embedded GraphiQL IDE (reference serves the same single-page asset on
# GET /graphql — GraphQLRouter.scala:66-73); assets ride the public CDN so
# the engine ships no JS bundle. Versions are PINNED (an unversioned URL
# executes whatever the CDN serves next major), and the pin becomes
# CRYPTOGRAPHIC when Subresource Integrity hashes are provided: set
# ``DATA_WAREHOUSE_GRAPHIQL_SRI`` to a JSON object {url: "sha384-..."}
# (openssl dgst -sha384 -binary <asset> | openssl base64 -A) and every
# matching tag is rendered with integrity + crossorigin="anonymous", so a
# CDN compromise yields a refused load instead of script execution. This
# build environment has no network access to the pinned assets, so hashes
# cannot be baked in here without guessing — deployments should set them
# (or vendor the three assets and rewrite the URLs). Air-gapped
# deployments still have the full API via POST /graphql; only the IDE
# needs the CDN.
GRAPHIQL_ASSETS = {
    "css": "https://unpkg.com/graphiql@3.7.1/graphiql.min.css",
    "react": "https://unpkg.com/react@18.3.1/umd/react.production.min.js",
    "react-dom": "https://unpkg.com/react-dom@18.3.1/umd/react-dom.production.min.js",
    "graphiql": "https://unpkg.com/graphiql@3.7.1/graphiql.min.js",
}


def _sri_attr(url: str, sri: dict[str, str] | None) -> str:
    h = (sri or {}).get(url)
    return f' integrity="{h}" crossorigin="anonymous"' if h else " crossorigin"


# The DEFAULT IDE page is fully self-contained (inline CSS/JS, zero
# external fetches) — matching the reference's embedded-asset behavior
# (GraphQLRouter.scala:66-73 serves its IDE from the jar): an air-gapped
# deployment gets a working IDE, not a blank page. The full GraphiQL
# experience remains available by opting into the CDN page
# (``DATA_WAREHOUSE_GRAPHIQL=cdn``) — this build environment has no
# network access, so the real graphiql.min.js bundle cannot be vendored
# into the tree without inventing its bytes.
EMBEDDED_IDE_PAGE = """<!DOCTYPE html>
<html>
<head>
  <title>GraphiQL</title>
  <style>
    body { margin: 0; font: 13px/1.4 monospace; background: #1e1e22; color: #ddd; }
    #graphiql { display: flex; height: 100vh; }
    .pane { flex: 1; display: flex; flex-direction: column; min-width: 0; }
    .pane + .pane { border-left: 1px solid #444; }
    .bar { padding: 6px 8px; background: #2a2a30; display: flex; gap: 8px; align-items: center; }
    textarea { flex: 1; background: #1e1e22; color: #ddd; border: 0; padding: 8px;
               resize: none; font: inherit; outline: none; }
    #vars { flex: 0 0 20%; border-top: 1px solid #444; }
    #result { flex: 1; margin: 0; padding: 8px; overflow: auto; white-space: pre; }
    button { background: #d64292; color: #fff; border: 0; padding: 4px 14px;
             border-radius: 3px; cursor: pointer; font: inherit; }
    .hint { color: #888; }
  </style>
</head>
<body>
  <div id="graphiql">
    <div class="pane">
      <div class="bar"><button id="run">&#9654; Run</button>
        <span class="hint">Ctrl+Enter &middot; embedded IDE (offline)</span></div>
      <textarea id="query" spellcheck="false">{ tenants(limit: 10, offset: 0) { name } }</textarea>
      <textarea id="vars" spellcheck="false" placeholder="query variables (JSON)"></textarea>
    </div>
    <div class="pane"><div class="bar"><span class="hint">response</span></div>
      <pre id="result"></pre></div>
  </div>
  <script>
    // minimal fetcher against POST /graphql (same endpoint GraphiQL's
    // createFetcher would use)
    async function run() {
      const body = { query: document.getElementById('query').value };
      const v = document.getElementById('vars').value.trim();
      const out = document.getElementById('result');
      if (v) { try { body.variables = JSON.parse(v); }
               catch (e) { out.textContent = 'variables: ' + e; return; } }
      out.textContent = '...';
      try {
        const r = await fetch('/graphql', { method: 'POST',
          headers: { 'Content-Type': 'application/json' },
          body: JSON.stringify(body) });
        out.textContent = JSON.stringify(await r.json(), null, 2);
      } catch (e) { out.textContent = String(e); }
    }
    document.getElementById('run').addEventListener('click', run);
    document.addEventListener('keydown', function (e) {
      if (e.ctrlKey && e.key === 'Enter') run();
    });
  </script>
</body>
</html>"""


def graphiql_page(sri: dict[str, str] | None = None) -> str:
    if sri is None:
        raw = os.environ.get("DATA_WAREHOUSE_GRAPHIQL_SRI")
        sri = json.loads(raw) if raw else None
    a = GRAPHIQL_ASSETS
    return f"""<!DOCTYPE html>
<html>
<head>
  <title>GraphiQL</title>
  <style>body {{ margin: 0; }} #graphiql {{ height: 100vh; }}</style>
  <link rel="stylesheet" href="{a['css']}"{_sri_attr(a['css'], sri)} />
</head>
<body>
  <div id="graphiql">Loading GraphiQL…</div>
  <script{_sri_attr(a['react'], sri)} src="{a['react']}"></script>
  <script{_sri_attr(a['react-dom'], sri)} src="{a['react-dom']}"></script>
  <script{_sri_attr(a['graphiql'], sri)} src="{a['graphiql']}"></script>
  <script>
    const fetcher = GraphiQL.createFetcher({{ url: '/graphql' }});
    ReactDOM.createRoot(document.getElementById('graphiql')).render(
      React.createElement(GraphiQL, {{
        fetcher,
        defaultQuery: '{{ tenants(limit: 10, offset: 0) {{ name }} }}',
      }})
    );
  </script>
</body>
</html>"""


GRAPHIQL_PAGE = (
    graphiql_page()
    if os.environ.get("DATA_WAREHOUSE_GRAPHIQL") == "cdn"
    else EMBEDDED_IDE_PAGE
)


def build_app(store) -> Flask:
    app = Flask("data_warehouse_spark")

    # app-lifetime dimension snapshots (tenant / account / balance rollup)
    # — fingerprint-fresh or unused; see api/serving_cache.py
    from .serving_cache import ServingCache

    cache = ServingCache(store)
    app.serving_cache = cache  # observability handle (tier counters)

    @app.before_request
    def _serving_pool():
        # requests are served by per-request WSGI threads; tag each so its
        # Spark jobs land in the "serving" FAIR pool, isolated from the
        # ingest loop's pool (session.py / service.py — the reference's
        # read-vs-ingest HikariCP pool split, application.conf:66-109)
        try:
            store.spark.sparkContext.setLocalProperty(
                "spark.scheduler.pool", "serving"
            )
        except Exception:  # store without a live SparkContext (unit fakes)
            pass

    def run_query(payload: dict) -> Response:
        query = payload.get("query")
        if not isinstance(query, str) or not query.strip():
            return _json({"error": "missing query"}, 400)
        variables = payload.get("variables")
        if variables is not None and not isinstance(variables, dict):
            # graphql-core raises TypeError for non-dict variables BEFORE
            # execution — validate here so a malformed client request is
            # the documented JSON 400, not a Flask HTML 500
            return _json({"error": "variables must be an object"}, 400)
        result = execute(
            store,
            query,
            variables=variables,
            operation_name=payload.get("operationName"),
            cache=cache,
        )
        if result.errors:
            # no data at all → parse/validation problem → 400 (reference
            # maps SyntaxError/QueryAnalysisError to 400, others to 500)
            status = 400 if result.data is None else 500
            return _json(
                {
                    "data": result.data,
                    "errors": [e.formatted for e in result.errors],
                },
                status,
            )
        return _json({"data": result.data}, 200)

    @app.post("/graphql")
    def graphql_post():
        try:
            # parse_float=Decimal: JSON numbers in variables reach the
            # ExactDecimal scalar exactly (float64 would blur cents above
            # 2^53 — the same discipline the response side already keeps)
            body = json.loads(
                request.get_data(as_text=True), parse_float=decimal.Decimal
            )
        except Exception:
            return _json({"error": "malformed JSON body"}, 400)
        if isinstance(body, list):  # reference accepts array-wrapped requests
            if not body or not isinstance(body[0], dict):
                return _json({"error": "empty batch"}, 400)
            body = body[0]
        if not isinstance(body, dict):
            return _json({"error": "body must be an object"}, 400)
        return run_query(body)

    @app.get("/graphql")
    def graphql_get():
        q = request.args.get("query")
        if q is None:
            return Response(GRAPHIQL_PAGE, mimetype="text/html")
        return run_query({"query": q})

    @app.get("/health")
    def health():
        try:
            # deliberately NO cache: health must prove the Spark query
            # path end-to-end (the reference's self-query semantics), not
            # that an in-memory snapshot still answers
            result = execute(store, "query { tenants(limit: 1, offset: 0) { name } }")
            ok = result.errors is None and result.data is not None
        except Exception:
            ok = False
        return _json({"healthy": ok, "graphql": ok}, 200 if ok else 503)

    return app


def _dumps_exact(obj) -> str:
    """JSON text with ``decimal.Decimal`` emitted as an EXACT numeric token
    (the reference serializes money as a BigDecimal JSON number; float64
    would corrupt balances above 2^53 cents). Standard ``json`` cannot emit
    raw tokens from ``default``, so decimals detour through placeholder
    strings carrying a per-call random nonce (a user-supplied string can
    never collide with it), substituted back in ONE regex pass."""
    nonce = secrets.token_hex(12)
    tokens: list[str] = []

    def default(o):
        if isinstance(o, decimal.Decimal):
            tokens.append(_num_token(o))
            return f"\u0000dec:{nonce}:{len(tokens) - 1}\u0000"
        raise TypeError(f"not JSON serializable: {type(o)}")

    s = json.dumps(obj, default=default)
    if not tokens:
        return s
    # ONE single-branch pattern with a captured index — a per-decimal
    # alternation (the obvious construction) makes the substitution pass
    # O(doc x decimals): a 1000-row transfers page carries ~3000 decimals
    # and that pass alone cost ~seconds per response under concurrency
    head = json.dumps(f"\u0000dec:{nonce}:")[1:-1]  # json-escaped, quotes off
    tail = json.dumps("\u0000")[1:-1]
    pattern = re.compile(f'"{re.escape(head)}(\\d+){re.escape(tail)}"')
    return pattern.sub(lambda m: tokens[int(m.group(1))], s)


def _num_token(d: decimal.Decimal) -> str:
    """Plain positional notation, storage scale dropped (DECIMAL(28,10)
    sums carry ten fractional zeros the reference's BigDecimal JSON does
    not)."""
    s = format(d, "f")
    if "." in s:
        s = s.rstrip("0").rstrip(".")
    return s or "0"


def _json(obj, status: int) -> Response:
    return Response(_dumps_exact(obj), status=status, mimetype="application/json")
