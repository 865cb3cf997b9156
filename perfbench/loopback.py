"""Loopback ClickHouse HTTP server for the benchmark (stdlib only).

Accepts the ``INSERT … FORMAT RowBinary`` POSTs that
``ClickHouseHTTPWriter`` sends, answers 200, and keeps per-run counters:
POSTs, body bytes, refusals, and blocks dropped as duplicates of an
``insert_deduplication_token`` already seen for the same
database/table (ClickHouse's own retry semantics). Bodies are spooled to
``--spool`` so rows are counted after the measured window, not during it.

Runs as its own process, so its CPU is not billed to the collector.
Requests are served by a pool of at most ``--threads`` threads.

    python3 loopback.py --spool DIR --threads 4      # prints "port N"

``GET /stats`` returns the counters as JSON; ``GET /rows`` additionally
counts the rows of every accepted block; ``POST /shutdown`` stops it.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import urllib.parse
from concurrent.futures import ThreadPoolExecutor
from http.server import BaseHTTPRequestHandler, HTTPServer

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _skip_leb128(buf: bytes, pos: int) -> tuple[int, int]:
    n = shift = 0
    while True:
        b = buf[pos]
        pos += 1
        n |= (b & 0x7F) << shift
        if not b & 0x80:
            return n, pos
        shift += 7


def count_log2_rows(buf: bytes) -> int:
    """Row count of a RowBinary ``log2`` block, walking the field widths
    of ``LOG2_SCHEMA`` without building values (``decode_rowbinary`` is
    ~30 µs a row; this is a few). Raises ValueError on a torn block."""
    pos, rows, n = 0, 0, len(buf)
    try:
        while pos < n:
            pos += 4  # date_time: DateTime
            for _ in range(6):  # QH QT QC CP Upstream IP: String
                ln, pos = _skip_leb128(buf, pos)
                pos += ln
            pos += 1 + 8 + 1 + 1  # IsFiltered, Elapsed, Cached, rcode
            for _ in range(3):  # rdatas rdatas6 cnames: Array(String)
                items, pos = _skip_leb128(buf, pos)
                for _ in range(items):
                    ln, pos = _skip_leb128(buf, pos)
                    pos += ln
            rows += 1
    except IndexError:
        raise ValueError("torn RowBinary block") from None
    if pos != n:
        raise ValueError("torn RowBinary block")
    return rows


class Loopback(HTTPServer):
    def __init__(self, spool: str, threads: int):
        super().__init__(("127.0.0.1", 0), _Handler)
        self.spool = spool
        self.pool = ThreadPoolExecutor(max_workers=threads)
        self.lock = threading.Lock()
        self.stats = {"posts": 0, "bytes": 0, "refused": 0, "duplicates": 0}
        self.by_db: dict[str, dict] = {}
        self.blocks: list[str] = []
        self.tokens: set[tuple[str, str, str]] = set()

    def process_request(self, request, client_address):
        self.pool.submit(self._serve, request, client_address)

    def _serve(self, request, client_address):
        try:
            self.finish_request(request, client_address)
        except Exception:  # noqa: BLE001 - keep serving; the client sees the reset
            self.handle_error(request, client_address)
        finally:
            self.shutdown_request(request)

    def row_counts(self) -> dict:
        from adguard2clickhouse_spark.schemas import LOG2_SCHEMA
        from adguard2clickhouse_spark.sinks.clickhouse import decode_rowbinary

        rows = torn = 0
        by_db: dict[str, int] = {}
        smallest = min(self.blocks, key=os.path.getsize, default=None)
        for path in self.blocks:
            with open(path, "rb") as f:
                body = f.read()
            try:
                n = count_log2_rows(body)
            except ValueError:
                torn += 1
                continue
            # the fast counter is cross-checked on one (the smallest) block
            if path == smallest and n != len(decode_rowbinary(body, LOG2_SCHEMA)):
                raise RuntimeError("row counter disagrees with decode_rowbinary")
            db = os.path.basename(path).split("-", 1)[0]
            by_db[db] = by_db.get(db, 0) + n
            rows += n
        return {"rows": rows, "torn_blocks": torn, "rows_by_database": by_db}


class _Handler(BaseHTTPRequestHandler):
    server: Loopback

    def log_message(self, *args):
        pass

    def _reply(self, code: int, body: bytes = b"") -> None:
        self.send_response(code)
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def do_GET(self):
        srv = self.server
        with srv.lock:
            out = dict(srv.stats, blocks=len(srv.blocks),
                       by_database={k: dict(v) for k, v in srv.by_db.items()})
            if self.path.startswith("/rows"):
                out.update(srv.row_counts())
        self._reply(200, json.dumps(out).encode())

    def do_POST(self):
        srv = self.server
        if self.path.startswith("/shutdown"):
            self._reply(200)
            threading.Thread(target=srv.shutdown).start()
            return
        n = int(self.headers.get("Content-Length", 0))
        body = self.rfile.read(n)
        q = urllib.parse.parse_qs(urllib.parse.urlparse(self.path).query)
        query = q.get("query", [""])[0]
        db = q.get("database", ["default"])[0]
        if len(body) != n or not query.startswith("INSERT INTO "):
            with srv.lock:
                srv.stats["refused"] += 1
            self._reply(400, b"bad insert")
            return
        table = query.split()[2]
        token = q.get("insert_deduplication_token", [None])[0]
        with srv.lock:
            srv.stats["posts"] += 1
            srv.stats["bytes"] += n
            per = srv.by_db.setdefault(db, {"posts": 0, "bytes": 0})
            per["posts"] += 1
            per["bytes"] += n
            if token is not None and (db, table, token) in srv.tokens:
                srv.stats["duplicates"] += 1
                path = None
            else:
                if token is not None:
                    srv.tokens.add((db, table, token))
                path = os.path.join(srv.spool, f"{db}-{len(srv.blocks):06d}.bin")
                srv.blocks.append(path)
        if path is not None:
            with open(path, "wb") as f:
                f.write(body)
        self._reply(200, b"Ok.\n")


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--spool", required=True)
    p.add_argument("--threads", type=int, default=os.cpu_count() or 1)
    args = p.parse_args()
    os.makedirs(args.spool, exist_ok=True)
    srv = Loopback(args.spool, max(1, args.threads))
    print(f"port {srv.server_address[1]}", flush=True)
    try:
        srv.serve_forever(poll_interval=0.1)
    finally:
        srv.pool.shutdown(wait=True)
        srv.server_close()


if __name__ == "__main__":
    main()
