"""Receiver for the `live_tail` workload: a socket-level stand-in for
ClickHouse's native TCP endpoint, adapted from the fake server in
tests/test_native_tcp.py. It answers hello, ping, DESCRIBE (with the
reference DDL's columns) and INSERT, decodes every block the client
sends, and records each INSERT's rows, wire bytes and the
CLOCK_MONOTONIC time of its acknowledgement.

    python3 perfbench/receiver.py --control DIR

writes DIR/port once listening and appends one JSON line per
acknowledged INSERT to DIR/inserts.jsonl. SIGTERM stops it.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import signal
import socket
import struct
import threading
import time

# the reference's published table (readme.md:111-119)
REF_DDL_COLUMNS = [
    ("repo", "LowCardinality(String)"),
    ("name", "LowCardinality(String)"),
    ("host", "LowCardinality(String)"),
    ("created_at", "DateTime"),
    ("logger", "LowCardinality(String)"),
    ("level", "LowCardinality(String)"),
    ("message", "String"),
    ("context", "String"),
    ("extra", "String"),
]
_BLOCK_INFO = b"\x01\x00\x02\xff\xff\xff\xff\x00"


class Wire:
    def __init__(self, conn: socket.socket):
        self.conn = conn
        self.buf = b""
        self.pos = 0
        self.read_bytes = 0
        self.rev = 0  # protocol revision agreed in the handshake

    def read(self, n: int) -> bytes:
        while len(self.buf) - self.pos < n:
            chunk = self.conn.recv(1 << 16)
            if not chunk:
                raise ConnectionError("client closed")
            self.buf = self.buf[self.pos:] + chunk
            self.pos = 0
        out = self.buf[self.pos:self.pos + n]
        self.pos += n
        self.read_bytes += n
        return out

    def var(self) -> int:
        shift = n = 0
        while True:
            b = self.read(1)[0]
            n |= (b & 0x7F) << shift
            if not b & 0x80:
                return n
            shift += 7

    def s(self) -> str:
        return self.read(self.var()).decode()


def _wv(out: bytearray, n: int) -> None:
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return


def _ws(out: bytearray, s: str) -> None:
    data = s.encode()
    _wv(out, len(data))
    out += data


def decode_column(w: Wire, t: str, n: int) -> list:
    """The column types of the reference DDL (REF_DDL_COLUMNS)."""
    if t == "String":
        return [w.read(w.var()).decode() for _ in range(n)]
    if t == "DateTime":
        return list(struct.unpack(f"<{n}I", w.read(4 * n)))
    if t == "LowCardinality(String)":
        if n == 0:
            return []
        flags = struct.unpack("<Q", w.read(8))[0]
        width = (1, 2, 4, 8)[flags & 0xFF]
        n_dict = struct.unpack("<Q", w.read(8))[0]
        dict_vals = decode_column(w, "String", n_dict)
        n_keys = struct.unpack("<Q", w.read(8))[0]
        if n_keys != n:
            raise ValueError("LowCardinality key count mismatch")
        keys = struct.unpack(f"<{n}{'BHIQ'[(1, 2, 4, 8).index(width)]}", w.read(width * n))
        return [dict_vals[k] for k in keys]
    raise ValueError(f"receiver: unsupported column type {t}")


def read_block(w: Wire):
    w.s()  # external table name
    while True:
        field = w.var()
        if field == 0:
            break
        w.read(1 if field == 1 else 4)
    n_cols, n_rows = w.var(), w.var()
    cols = []
    for _ in range(n_cols):
        name, t = w.s(), w.s()
        if t.startswith("LowCardinality("):
            w.read(8)  # keys serialization version
        cols.append((name, decode_column(w, t, n_rows)))
    return cols, n_rows


class Receiver:
    def __init__(self, control: str):
        self.control = control
        self.log = open(os.path.join(control, "inserts.jsonl"), "a")
        self.lock = threading.Lock()
        self.srv = socket.create_server(("127.0.0.1", 0))
        self.stopping = False

    def serve_forever(self) -> None:
        port = self.srv.getsockname()[1]
        tmp = os.path.join(self.control, "port.tmp")
        with open(tmp, "w") as f:
            f.write(str(port))
        os.replace(tmp, os.path.join(self.control, "port"))
        while not self.stopping:
            try:
                conn, _ = self.srv.accept()
            except OSError:
                return
            threading.Thread(target=self._serve, args=(conn,), daemon=True).start()

    def stop(self, *_a) -> None:
        self.stopping = True
        try:
            self.srv.close()
        except OSError:
            pass

    def _serve(self, conn: socket.socket) -> None:
        w = Wire(conn)
        try:
            self._handshake(w)
            while True:
                pkt = w.var()
                if pkt == 4:  # Ping -> Pong
                    conn.sendall(b"\x04")
                elif pkt == 1:
                    self._query(w)
                else:
                    raise ValueError(f"unexpected client packet {pkt}")
        except (ConnectionError, OSError):
            pass
        finally:
            conn.close()

    def _handshake(self, w: Wire) -> None:
        if w.var() != 0:
            raise ValueError("expected client Hello")
        w.s()
        w.var()
        w.var()
        w.rev = min(w.var(), 54468)  # per connection
        w.s()
        w.s()
        w.s()
        out = bytearray()
        _wv(out, 0)
        _ws(out, "perfbench-receiver")
        _wv(out, 23)
        _wv(out, 8)
        _wv(out, 54468)
        if w.rev >= 54058:
            _ws(out, "UTC")
        if w.rev >= 54372:
            _ws(out, "receiver")
        if w.rev >= 54401:
            _wv(out, 1)
        w.conn.sendall(bytes(out))

    def _client_info_and_query(self, w: Wire) -> str:
        rev = w.rev
        w.s()  # query id
        w.read(1)  # query kind
        w.s()
        w.s()
        w.s()
        if rev >= 54449:
            w.read(8)
        w.read(1)  # interface
        w.s()
        w.s()
        w.s()
        w.var()
        w.var()
        w.var()
        if rev >= 54060:
            w.s()
        if rev >= 54448:
            w.var()
        if rev >= 54401:
            w.var()
        if rev >= 54442:
            w.read(1)
        if rev >= 54453:
            w.var()
            w.var()
            w.var()
        while w.s():  # settings until the empty name
            w.var()
            w.s()
        if rev >= 54441:
            w.s()
        w.var()  # stage
        w.var()  # compression
        return w.s()

    def _query(self, w: Wire) -> None:
        query = self._client_info_and_query(w)
        while True:  # external tables, until an empty block
            if w.var() != 2:
                raise ValueError("expected client Data")
            cols, _n = read_block(w)
            if not cols:
                break
        if not query.lstrip().upper().startswith("INSERT"):
            out = bytearray()
            _wv(out, 1)
            _ws(out, "")
            out += _BLOCK_INFO
            _wv(out, 3)
            _wv(out, len(REF_DDL_COLUMNS))
            for idx, cname in enumerate(("name", "type", "default_type")):
                _ws(out, cname)
                _ws(out, "String")
                for col in REF_DDL_COLUMNS:
                    _ws(out, col[idx] if idx < 2 else "")
            _wv(out, 5)
            w.conn.sendall(bytes(out))
            return
        m = re.search(r"INSERT INTO \S+ \(([^)]*)\)", query)
        by_name = dict(REF_DDL_COLUMNS)
        named = [c.strip().strip("`") for c in m.group(1).split(",")] if m else list(by_name)
        out = bytearray()
        _wv(out, 1)
        _ws(out, "")
        out += _BLOCK_INFO
        _wv(out, len(named))
        _wv(out, 0)
        for name in named:
            t = by_name[name]
            _ws(out, name)
            _ws(out, t)
            if t.startswith("LowCardinality("):
                out += struct.pack("<Q", 1)
        w.conn.sendall(bytes(out))
        rows: list[dict] = []
        start = w.read_bytes
        while True:
            if w.var() != 2:
                raise ValueError("expected client Data")
            cols, n_rows = read_block(w)
            if not cols:
                break
            names = [c[0] for c in cols]
            for i in range(n_rows):
                rows.append({n: c[1][i] for n, c in zip(names, cols)})
        wire = w.read_bytes - start
        out = bytearray()
        _wv(out, 3)  # Progress
        for v in (0, 0, 0) + ((len(rows), 0) if w.rev >= 54372 else ()):
            _wv(out, v)
        _wv(out, 5)  # EndOfStream: the acknowledgement
        ack = time.monotonic()
        w.conn.sendall(bytes(out))
        with self.lock:
            self.log.write(json.dumps({"t": ack, "bytes": wire, "rows": rows}) + "\n")
            self.log.flush()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--control", required=True)
    a = ap.parse_args(argv)
    r = Receiver(a.control)
    signal.signal(signal.SIGTERM, r.stop)
    r.serve_forever()
    r.log.close()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
