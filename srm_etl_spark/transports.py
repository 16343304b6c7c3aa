"""Production HTTP transports for the engine's injected seams.

Every connector and sink in this engine takes its transport as a callable —
``fetch_page(skip, limit)`` / ``fetch_url(url)`` on the ingest side
(``sources/connectors.py``), ``send(payload)`` / ``ship(partition)`` /
``sweep(index, body)`` / ``(fetch, put)`` on the publish side
(``sinks/rest.py``, ``sinks/es.py``). Tests inject recorders; a deployment
injects the factories below, built on ``requests`` with the reference's
retry posture (``operators/derive/es_utils.py:13-18``: bounded retries on
502/503/504, per-request timeout).

Design constraints honored here:

- **Executor-safe**: the ES bulk ship runs inside ``foreachPartition`` on
  executors, so factories capture plain config and build their HTTP session
  lazily per call — nothing unpicklable crosses the task boundary.
- **Testable without a network**: every factory accepts ``session`` (any
  object with ``request(method, url, **kw)`` returning a response with
  ``status_code`` / ``json()`` / ``text`` / ``raise_for_status()``), so the
  protocol around the wire is unit-tested with fakes
  (tests/test_connectors_sinks.py::TestTransports).
- ``requests`` itself is optional: importing this module without it only
  fails when a factory is actually used with the default session.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterable

try:  # pragma: no cover - exercised implicitly by default-session paths
    import requests as _requests
except ImportError:  # pragma: no cover
    _requests = None

RETRY_STATUSES = (502, 503, 504)


def _new_session():
    if _requests is None:
        raise ImportError("transports need the 'requests' package (or an injected session)")
    return _requests.Session()


def request_with_retry(
    url: str,
    *,
    method: str = "GET",
    session=None,
    retries: int = 3,
    retry_statuses: tuple[int, ...] = RETRY_STATUSES,
    timeout: float = 60.0,
    backoff: float = 1.0,
    sleep: Callable[[float], None] = time.sleep,
    accept_statuses: tuple[int, ...] = (),
    **kw,
):
    """One request with the reference's retry posture: bounded retries on the
    listed statuses AND on transport-level timeout/connection errors
    (``es_utils.py:16`` sets ``retry_on_timeout=True`` — a transient timeout
    must not fail a whole executor task), exponential backoff; returns the
    RESPONSE. Statuses in ``accept_statuses`` return instead of raising
    (callers branch on them)."""
    session = session or _new_session()
    transient = (
        (_requests.Timeout, _requests.ConnectionError) if _requests is not None else ()
    )
    for attempt in range(retries + 1):
        try:
            resp = session.request(method, url, timeout=timeout, **kw)
        except transient:
            if attempt >= retries:
                raise
            sleep(backoff * (2**attempt))
            continue
        if resp.status_code in retry_statuses and attempt < retries:
            sleep(backoff * (2**attempt))
            continue
        if resp.status_code not in accept_statuses:
            resp.raise_for_status()
        return resp
    raise RuntimeError("unreachable")  # pragma: no cover


def request_json(url: str, **kw) -> dict:
    """:func:`request_with_retry`, JSON-decoded."""
    return request_with_retry(url, **kw).json()


def _session_cache(injected):
    """Driver-side factories reuse ONE session across calls (a paged scan is
    hundreds of sequential fetches — pool the connection); executor-side
    transports skip this and build per call (sessions don't pickle)."""
    state: dict = {}

    def get():
        if injected is not None:
            return injected
        if "s" not in state:
            state["s"] = _new_session()
        return state["s"]

    return get


def make_skip_limit_fetch_page(
    url: str,
    *,
    records_key: str = "records",
    skip_param: str = "skip",
    limit_param: str = "limit",
    params: dict | None = None,
    headers: dict | None = None,
    session=None,
    **rkw,
) -> Callable[[int, int], list]:
    """``fetch_page(skip, limit) -> list`` for the gov.il-style pager (S6,
    reference srm_tools/gov.py:13-55)."""

    sess = _session_cache(session)

    def fetch_page(skip: int, limit: int) -> list:
        q = dict(params or {})
        q[skip_param] = skip
        q[limit_param] = limit
        body = request_json(url, session=sess(), headers=headers, params=q, **rkw)
        return body.get(records_key, []) if isinstance(body, dict) else body

    return fetch_page


def make_airtable_send(
    api_key: str, base: str, table: str, *, session=None, **rkw
) -> Callable[[dict], None]:
    """``send(payload)`` for K4/K6 batches (sinks/rest.py:upsert_payloads):
    the payload's ``method`` (PATCH=update / POST=create) maps straight onto
    the Airtable records endpoint; auth is the bearer header
    (reference load/airtable.py:104-214)."""
    url = f"https://api.airtable.com/v0/{base}/{table}"
    headers = {"Authorization": f"Bearer {api_key}"}

    sess = _session_cache(session)

    def send(payload: dict) -> None:
        body = {k: v for k, v in payload.items() if k != "method"}
        request_json(
            url, method=payload.get("method", "POST"), session=sess(),
            headers=headers, json=body, **rkw,
        )

    return send


def make_ckan_send(
    host: str, api_key: str, owner_org: str, *, session=None, **rkw
) -> Callable[[dict], dict]:
    """``send(package_payload)`` for K5 (reference dump_to_ckan usage,
    operators/backup/__init__.py:38-43): package_create, falling back to
    package_patch when the name already exists (CKAN returns 409)."""
    headers = {"Authorization": api_key}

    sess = _session_cache(session)

    def send(payload: dict) -> dict:
        payload = {**payload, "owner_org": owner_org}
        resp = request_with_retry(
            f"{host}/api/3/action/package_create", method="POST", session=sess(),
            headers=headers, json=payload, accept_statuses=(409,), **rkw,
        )
        if resp.status_code == 409:
            return request_json(
                f"{host}/api/3/action/package_patch", method="POST", session=sess(),
                headers=headers, json={**payload, "id": payload["name"]}, **rkw,
            )
        return resp.json()

    return send


def make_es_ship(
    hosts: str,
    *,
    auth: tuple[str, str] | None = None,
    session=None,
    max_docs: int = 500,
    max_bytes: int = 5 * 1024 * 1024,
    **rkw,
) -> Callable[[Iterable], None]:
    """``ship(partition_iter)`` for ``sinks/es.py:publish``: a partition's
    (action_json, doc_json) pairs post as CHUNKED ``_bulk`` NDJSON bodies —
    a flush every ``max_docs`` docs or ``max_bytes`` of payload, never the
    whole partition at once (a 100 TB partition is unbounded; ES caps
    ``http.max_content_length`` at 100 MB by default, and a retry must
    resend only one bounded chunk). Runs on executors — the session is
    created inside the call (nothing unpicklable is captured); pass
    ``session`` only in tests."""

    def ship(rows: Iterable) -> None:
        s = None
        lines: list[str] = []
        n_docs = size = 0

        def flush():
            nonlocal s, lines, n_docs, size
            if not lines:
                return
            if s is None:
                s = session or _new_session()
            body = request_json(
                f"{hosts.rstrip('/')}/_bulk", method="POST", session=s,
                headers={"Content-Type": "application/x-ndjson"},
                data="\n".join(lines) + "\n", auth=auth, **rkw,
            )
            # ES answers HTTP 200 with {"errors": true} when individual docs
            # fail (mapping conflicts, version races). The reference ships
            # through streaming_bulk, which RAISES on per-item errors — a
            # silent partial flush would drop documents from the index.
            if isinstance(body, dict) and body.get("errors"):
                failed = [
                    item
                    for item in body.get("items", [])
                    for op in item.values()
                    if isinstance(op, dict) and int(op.get("status", 200)) >= 300
                ]
                sample = json.dumps(failed[:3], default=str)
                raise RuntimeError(
                    f"ES _bulk reported {len(failed) or 'unknown'} item "
                    f"failures (sample: {sample})"
                )
            lines, n_docs, size = [], 0, 0

        for r in rows:
            lines.append(r.action_json)
            lines.append(r.doc_json)
            n_docs += 1
            size += len(r.action_json) + len(r.doc_json) + 2
            if n_docs >= max_docs or size >= max_bytes:
                flush()
        flush()

    return ship


def make_es_ensure_index(
    hosts: str, *, auth: tuple[str, str] | None = None, session=None, **rkw
) -> Callable[[str, dict], bool]:
    """``ensure(index, mappings)`` for ``sinks/es.py:publish``: HEAD the
    index and PUT it with the generated mappings when absent — the
    reference's ``dump_to_es`` creates the index from the mapper class's
    generated mapping before the bulk load (es_utils.py:46-57 wires
    ``SRMMappingGenerator`` in as ``mapper_cls``). Driver-side, one call
    per publish. Returns True when the index was created."""

    def ensure(index: str, mappings: dict) -> bool:
        s = session or _new_session()
        url = f"{hosts.rstrip('/')}/{index}"
        head = request_with_retry(
            url, method="HEAD", session=s, auth=auth,
            accept_statuses=(404,), **rkw,
        )
        if head.status_code != 404:
            return False
        # HEAD→PUT race: a concurrent publisher can create the index between
        # the two calls; ES then answers 400 resource_already_exists_exception.
        # The desired state (index exists) is satisfied — accept that one
        # error type and re-raise anything else a 400 carries.
        resp = request_with_retry(
            url, method="PUT", session=s,
            headers={"Content-Type": "application/json"},
            data=json.dumps({"mappings": mappings}), auth=auth,
            accept_statuses=(400,), **rkw,
        )
        if resp.status_code == 400:
            try:
                err_type = resp.json().get("error", {}).get("type", "")
            except ValueError:
                err_type = ""
            if err_type != "resource_already_exists_exception":
                resp.raise_for_status()
            return False
        return True

    return ensure


def make_es_sweep(
    hosts: str, *, auth: tuple[str, str] | None = None, session=None, **rkw
) -> Callable[[str, dict], dict]:
    """``sweep(index, body)`` for the revision delete-by-query (reference
    es_utils.py:59-63, ``conflicts=proceed``)."""

    def sweep(index: str, body: dict) -> dict:
        return request_json(
            f"{hosts.rstrip('/')}/{index}/_delete_by_query", method="POST",
            session=session, params={"conflicts": "proceed"},
            headers={"Content-Type": "application/json"}, data=json.dumps(body),
            auth=auth, **rkw,
        )

    return sweep


def make_github_transports(
    token: str, *, session=None, **rkw
) -> tuple[Callable[[str], tuple[int, dict]], Callable[[str, dict], int]]:
    """``(fetch, put)`` for ``sinks/rest.py:github_backup_push`` (reference
    operators/github_backup/__init__.py:17-23 headers)."""
    headers = {"Authorization": f"token {token}", "Accept": "application/vnd.github+json"}

    def fetch(url: str) -> tuple[int, dict]:
        s = session or _new_session()
        resp = s.request("GET", url, headers=headers, timeout=30)
        try:
            body = resp.json()
        except ValueError:
            body = {}
        return resp.status_code, body if isinstance(body, dict) else {}

    def put(url: str, payload: dict) -> int:
        s = session or _new_session()
        return s.request("PUT", url, headers=headers, json=payload, timeout=30).status_code

    return fetch, put
