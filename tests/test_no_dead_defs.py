"""Dead-code guard: every public function in ``srm_etl_spark/`` must be used.

Parses the repo (no Spark) and fails when a public top-level function has no
reference outside its own body, or is referenced only from ``tests/``. A
reference is a name or attribute use in ``srm_etl_spark/``, ``tests/``,
``tools/``, ``perfbench/``, ``bench.py`` or ``__spark_entry__.py``; string
constants count only under ``perfbench/``, which binds the engine's layer
functions by name. Imports alone are not uses, so a re-export does not keep a
function alive.
"""

import ast
import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SCOPES = ("srm_etl_spark", "tests", "tools", "perfbench", "bench.py", "__spark_entry__.py")

# name -> why it stays although only tests call it
ALLOWED_TEST_ONLY = {
    # test references: a test compares another code path against them
    "hasher_py": "pure-Python twin the tests compare the column hasher against",
    "simhash_native": "expression twin the tests compare the SimHash pandas UDF against",
    "embedding_near_dup_pairs": "expression twin the tests compare the BLAS kernel against",
    "make_wav": "reference WAV builder the tests compare the JVM-side builder against",
    # deployment seams: a reference publish, ingest or notification target
    # whose transport a test replaces with a fake
    "make_airtable_send": "Airtable upsert transport (K4)",
    "make_ckan_send": "CKAN package transport (K5)",
    "make_es_ensure_index": "Elasticsearch index-creation transport (K3)",
    "make_es_ship": "Elasticsearch bulk transport (K3)",
    "make_es_sweep": "Elasticsearch revision-sweep transport (K3)",
    "make_github_transports": "GitHub backup transport (K5 backup)",
    "make_skip_limit_fetch_page": "gov.il skip/limit pager transport (S6)",
    "ckan_dataset_payload": "CKAN dataset payload (K5)",
    "es_bulk_lines": "Elasticsearch bulk wire lines (K3)",
    "github_backup_push": "GitHub backup upload (K5 backup)",
    "mapbox_upload_tileset": "Mapbox tileset upload protocol (K7)",
    "upsert_payloads": "Airtable batch upsert payloads (K4)",
    "write_jdbc": "SQL publish target (K2)",
    "jdbc_query": "BudgetKey Postgres ingest (S7)",
    "operator_publish_all": "five-index Elasticsearch publish entry point (K3)",
    "write_sitemaps": "sitemap publish target (K8)",
    "invoke_on": "failure-notification wrapper for the ETL entry points (SMTP injected)",
}


def _files():
    for scope in SCOPES:
        path = os.path.join(ROOT, scope)
        if os.path.isfile(path):
            yield path
            continue
        for d, dirs, fs in os.walk(path):
            dirs[:] = [x for x in dirs if not x.startswith(".") and x != "__pycache__"]
            yield from (os.path.join(d, f) for f in fs if f.endswith(".py"))


def _scan():
    defs = {}  # name -> (relpath, first line, last line)
    uses = []  # (name, relpath, line)
    for path in _files():
        rel = os.path.relpath(path, ROOT)
        tree = ast.parse(open(path, encoding="utf-8").read(), path)
        if rel.startswith("srm_etl_spark" + os.sep):
            for node in tree.body:
                if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)) and not node.name.startswith("_"):
                    defs[node.name] = (rel, node.lineno, node.end_lineno)
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                uses.append((node.id, rel, node.lineno))
            elif isinstance(node, ast.Attribute):
                uses.append((node.attr, rel, node.lineno))
            elif isinstance(node, ast.ImportFrom):
                # a renamed import is used under its alias
                uses += [(a.name, rel, node.lineno) for a in node.names if a.asname]
            elif (isinstance(node, ast.Constant) and isinstance(node.value, str)
                    and rel.startswith("perfbench" + os.sep)):
                uses.append((node.value, rel, node.lineno))
    users = {name: set() for name in defs}
    for name, rel, line in uses:
        if name in users:
            home, first, last = defs[name]
            if not (rel == home and first <= line <= last):
                users[name].add(rel)
    return defs, users


def _test_only(users):
    return {
        n for n, us in users.items()
        if us and all(u.startswith("tests" + os.sep) for u in us)
    }


def test_every_public_def_has_a_caller():
    defs, users = _scan()
    unused = sorted(f"{defs[n][0]}:{n}" for n, us in users.items() if not us)
    assert not unused, f"public defs nothing references: {unused}"


def test_no_public_def_is_called_only_from_tests():
    defs, users = _scan()
    extra = sorted(f"{defs[n][0]}:{n}" for n in _test_only(users) - set(ALLOWED_TEST_ONLY))
    assert not extra, f"public defs only tests call (give them a caller or delete them): {extra}"


def test_allowlist_has_no_stale_entries():
    defs, users = _scan()
    stale = sorted(set(ALLOWED_TEST_ONLY) - _test_only(users))
    assert not stale, f"allowlisted defs that are gone or now have a real caller: {stale}"
