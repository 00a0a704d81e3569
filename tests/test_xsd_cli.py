"""CLI parity (lib-pl/cli.pl), URL loading (xsd2json.pl:202-224 http
branch), and draft-04 meta-validation of OUR compiled output
(test/index.js:115-141 analog)."""

import http.server
import io
import json
import os
import socketserver
import threading
from contextlib import redirect_stderr, redirect_stdout

import pytest

from tools.xsd_parity import XSD_DIR
from xsd2json_spark.cli import main as cli_main
from xsd2json_spark.spec.metaschema import validate_draft04
from xsd2json_spark.spec.xsd_compiler import XsdCompiler, xsd_to_json_schema

HAVE_CORPUS = os.path.isdir(XSD_DIR)
needs_corpus = pytest.mark.skipif(not HAVE_CORPUS, reason=f"reference XSD corpus not found at {XSD_DIR}")

FIXTURES = sorted(f[:-4] for f in (os.listdir(XSD_DIR) if HAVE_CORPUS else []) if f.endswith(".xsd"))


def _run_cli(argv, stdin_text=None):
    out, err = io.StringIO(), io.StringIO()
    import sys

    old_stdin = sys.stdin
    if stdin_text is not None:
        sys.stdin = io.StringIO(stdin_text)
    try:
        with redirect_stdout(out), redirect_stderr(err):
            rc = cli_main(argv)
    finally:
        sys.stdin = old_stdin
    return rc, out.getvalue(), err.getvalue()


@needs_corpus
def test_cli_compiles_file_to_stdout():
    path = os.path.join(XSD_DIR, "element_boolean.xsd")
    rc, out, _ = _run_cli([path])
    assert rc == 0
    assert json.loads(out) == xsd_to_json_schema(path)


@needs_corpus
def test_cli_indentation_zero_single_line():
    path = os.path.join(XSD_DIR, "element_boolean.xsd")
    rc, out, _ = _run_cli(["-i", "0", path])
    assert rc == 0
    assert out.count("\n") == 1  # single line + trailing newline
    assert json.loads(out) == xsd_to_json_schema(path)


@needs_corpus
def test_cli_stdin():
    with open(os.path.join(XSD_DIR, "element_boolean.xsd")) as fh:
        src = fh.read()
    rc, out, _ = _run_cli(["-"], stdin_text=src)
    assert rc == 0
    assert json.loads(out) == xsd_to_json_schema(src)


@needs_corpus
def test_cli_version_and_help_and_trace():
    rc, out, _ = _run_cli(["--version"])
    assert rc == 0 and "xsd2json" in out
    rc, out, _ = _run_cli([])  # no args -> usage, exit 0 like the reference
    assert rc == 0 and "USAGE" in out.upper() or "usage" in out
    rc, out, err = _run_cli(["-t", os.path.join(XSD_DIR, "complexType_name.xsd")])
    assert rc == 0 and "# trace" in err


def test_cli_error_exit_code():
    rc, _, err = _run_cli(["/nonexistent/nope.xsd"])
    assert rc == 1 and "error" in err


@pytest.fixture(scope="module")
def xsd_http_server():
    handler = type(
        "H",
        (http.server.SimpleHTTPRequestHandler,),
        {"directory": XSD_DIR, "log_message": lambda *a, **k: None},
    )

    def _mk(*args, **kwargs):
        return handler(*args, directory=XSD_DIR, **kwargs)

    with socketserver.TCPServer(("127.0.0.1", 0), _mk) as httpd:
        port = httpd.server_address[1]
        t = threading.Thread(target=httpd.serve_forever, daemon=True)
        t.start()
        yield f"http://127.0.0.1:{port}"
        httpd.shutdown()


@needs_corpus
def test_url_input(xsd_http_server):
    url = f"{xsd_http_server}/element_boolean.xsd"
    assert xsd_to_json_schema(url) == xsd_to_json_schema(os.path.join(XSD_DIR, "element_boolean.xsd"))


@needs_corpus
def test_url_input_resolves_includes_against_url_base(xsd_http_server):
    # include.xsd includes complexType_name.xsd relative to its own URL
    url = f"{xsd_http_server}/include.xsd"
    assert xsd_to_json_schema(url) == xsd_to_json_schema(os.path.join(XSD_DIR, "include.xsd"))


def test_url_include_resolution_unit():
    c = XsdCompiler("<schema xmlns='http://www.w3.org/2001/XMLSchema'/>".replace(
        "schema", "xs:schema").replace("xmlns", "xmlns:xs"), base_dir="http://h/x/")
    assert c._resolve_location("a.xsd") == "http://h/x/a.xsd"
    assert c._resolve_location("http://other/b.xsd") == "http://other/b.xsd"


@needs_corpus
@pytest.mark.parametrize("name", FIXTURES)
def test_compiled_output_is_valid_draft04(name):
    """Every fixture WE compile must be a valid draft-04 schema —
    validating our own output, not just comparing to goldens."""
    schema = xsd_to_json_schema(os.path.join(XSD_DIR, name + ".xsd"))
    errors = validate_draft04(schema)
    assert errors == [], errors[:5]


def test_structural_fallback_catches_bad_schema():
    from xsd2json_spark.spec.metaschema import _structural_errors

    bad = {"type": "strng", "required": [], "allOf": "nope", "minLength": -1}
    errs = _structural_errors(bad, "$")
    assert len(errs) >= 4
    assert _structural_errors({"type": "string", "minLength": 3}, "$") == []
