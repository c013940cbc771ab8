import json
import os
import sys
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from urllib.parse import parse_qs, urlparse

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from nasa_asteroid_data_lakehouse_spark.pipeline.neows_fixture import DOC_DAY1
from nasa_asteroid_data_lakehouse_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.01")


def jobs_in_group(sc, group: str, fn):
    """Run ``fn()`` under job group ``group``; return (result, job count)."""
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.fixture(scope="session")
def spark():
    spark = get_spark(app_name="ndl-tests", master="local[8]")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_CORRECTNESS


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


class _NeowsHandler(BaseHTTPRequestHandler):
    """Serves the NeoWs fixture document; echoes query params back in
    the payload so tests can assert they crossed the wire."""

    def do_GET(self):  # noqa: N802 — http.server API
        params = {k: v[0] for k, v in parse_qs(urlparse(self.path).query).items()}
        body = dict(DOC_DAY1)
        body["__params__"] = params
        payload = json.dumps(body).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(payload)))
        self.end_headers()
        self.wfile.write(payload)

    def log_message(self, *args):  # silence per-request stderr lines
        pass


@pytest.fixture(scope="session")
def feed_url():
    """URL of an in-process HTTP server standing in for the NASA NeoWs
    feed endpoint."""
    server = ThreadingHTTPServer(("127.0.0.1", 0), _NeowsHandler)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    yield f"http://127.0.0.1:{server.server_address[1]}/feed"
    server.shutdown()
