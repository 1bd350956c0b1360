"""Minimal pure-Python PostgreSQL wire-protocol (v3) client + a
distributed Spark sink built on it (SURVEY §2.1 S4 — live-PostgreSQL
parity for the reference's actual sink, ``/root/reference/main.py:15-18,
122-147``).

Why this exists: the sandbox ships PostgreSQL *server* binaries but no
JDBC driver jar and no Python driver (psycopg2/pg8000), so Spark's
``.write.jdbc`` cannot reach a live Postgres here. The frontend/backend
protocol, however, is small and fully public
(postgresql.org/docs/current/protocol.html): under ``trust`` auth a
client needs only StartupMessage → AuthenticationOk → ReadyForQuery and
the simple-query cycle ('Q' → RowDescription/DataRow/CommandComplete →
ReadyForQuery), all text-format. ~150 lines buys an end-to-end test of
the one reference behavior that was previously verified only by a Derby
proxy (VERDICT r5 "what's missing" #2).

Scale/usage shape: :func:`write_via_pgwire` is the same contract as the
JDBC sink (sources/jdbc.py) — one connection per input partition, one
transaction per partition, multi-row INSERT batches (the set-based form
of the reference's row-at-a-time commit loop). Repartition to what the
database can absorb before calling. This client is a TEST/parity
vehicle: production stays on the JDBC sink (``reWriteBatchedInserts``
gives the same multi-row batching), which needs only the driver jar.
"""

from __future__ import annotations

import socket
import struct
from datetime import date, datetime
from decimal import Decimal

from pyspark.sql import DataFrame

PROTOCOL_V3 = 196608  # (3 << 16) | 0


class PgError(RuntimeError):
    pass


class PgWireClient:
    """Blocking simple-query client over a unix socket or TCP.

    ``address``: a filesystem path to the socket DIRECTORY (the
    standard ``.s.PGSQL.<port>`` name is appended) or a ``host`` string
    for TCP. Only ``trust`` authentication is supported — this is a
    sandboxed test vehicle, not a credentialed production driver.
    """

    def __init__(
        self,
        address: str,
        port: int = 5432,
        user: str = "postgres",
        database: str = "postgres",
        timeout: float = 30.0,
    ) -> None:
        if address.startswith("/"):
            self._sock = socket.socket(socket.AF_UNIX, socket.SOCK_STREAM)
            self._sock.settimeout(timeout)
            self._sock.connect(f"{address}/.s.PGSQL.{port}")
        else:
            self._sock = socket.create_connection((address, port), timeout)
        self._buf = b""
        params = b""
        for k, v in (("user", user), ("database", database)):
            params += k.encode() + b"\0" + v.encode() + b"\0"
        body = struct.pack("!i", PROTOCOL_V3) + params + b"\0"
        self._sock.sendall(struct.pack("!i", len(body) + 4) + body)
        self._await_ready(startup=True)

    # -- frame IO ----------------------------------------------------
    def _read_exact(self, n: int) -> bytes:
        while len(self._buf) < n:
            chunk = self._sock.recv(65536)
            if not chunk:
                raise PgError("server closed connection")
            self._buf += chunk
        out, self._buf = self._buf[:n], self._buf[n:]
        return out

    def _read_message(self) -> tuple[bytes, bytes]:
        mtype = self._read_exact(1)
        (length,) = struct.unpack("!i", self._read_exact(4))
        return mtype, self._read_exact(length - 4)

    @staticmethod
    def _error_fields(payload: bytes) -> str:
        parts = []
        i = 0
        while i < len(payload) and payload[i] != 0:
            code = chr(payload[i])
            end = payload.index(b"\0", i + 1)
            if code in "SCM":  # severity, sqlstate, message
                parts.append(payload[i + 1 : end].decode("utf-8", "replace"))
            i = end + 1
        return ": ".join(parts)

    def _await_ready(self, startup: bool = False) -> None:
        while True:
            mtype, payload = self._read_message()
            if mtype == b"Z":  # ReadyForQuery
                return
            if mtype == b"E":
                err = PgError(self._error_fields(payload))
                # drain to ReadyForQuery so the connection stays usable
                while self._read_message()[0] != b"Z":
                    pass
                raise err
            if mtype == b"R" and startup:
                (code,) = struct.unpack("!i", payload[:4])
                if code != 0:  # AuthenticationOk
                    raise PgError(f"server demands auth method {code}; only trust supported")
            # ParameterStatus 'S', BackendKeyData 'K', NoticeResponse 'N' — ignore

    # -- simple query cycle ------------------------------------------
    def query(self, sql: str) -> tuple[list[str], list[tuple]]:
        """Run one simple-query message; returns (column_names, rows)
        with every field as text (or None for SQL NULL) — callers cast.
        DDL/INSERT return ([], [])."""
        body = sql.encode() + b"\0"
        self._sock.sendall(b"Q" + struct.pack("!i", len(body) + 4) + body)
        cols: list[str] = []
        rows: list[tuple] = []
        error: PgError | None = None
        while True:
            mtype, payload = self._read_message()
            if mtype == b"T":  # RowDescription
                (nfields,) = struct.unpack("!h", payload[:2])
                cols, i = [], 2
                for _ in range(nfields):
                    end = payload.index(b"\0", i)
                    cols.append(payload[i:end].decode())
                    i = end + 1 + 18  # skip table oid/attnum/type oid/len/mod/format
            elif mtype == b"D":  # DataRow
                (nfields,) = struct.unpack("!h", payload[:2])
                i, vals = 2, []
                for _ in range(nfields):
                    (flen,) = struct.unpack("!i", payload[i : i + 4])
                    i += 4
                    if flen == -1:
                        vals.append(None)
                    else:
                        vals.append(payload[i : i + flen].decode())
                        i += flen
                rows.append(tuple(vals))
            elif mtype == b"E":
                error = PgError(self._error_fields(payload))
            elif mtype == b"Z":  # ReadyForQuery: cycle complete
                if error is not None:
                    raise error
                return cols, rows
            # CommandComplete 'C', EmptyQueryResponse 'I', Notice 'N' — ignore

    def close(self) -> None:
        try:
            self._sock.sendall(b"X" + struct.pack("!i", 4))  # Terminate
        finally:
            self._sock.close()

    def __enter__(self) -> "PgWireClient":
        return self

    def __exit__(self, *exc) -> None:
        self.close()


def sql_literal(v) -> str:
    """Render one Python value as a standard-conforming SQL literal.
    Strings double embedded quotes (E'' escapes are off by default in
    modern PG); datetimes/dates go through ISO text."""
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, (int, float, Decimal)):
        return format(v, ".17g") if isinstance(v, float) else str(v)
    if isinstance(v, datetime):
        return f"'{v.isoformat(sep=' ')}'"
    if isinstance(v, date):
        return f"'{v.isoformat()}'"
    s = str(v).replace("'", "''")
    return f"'{s}'"


def write_via_pgwire(
    df: DataFrame,
    address: str,
    table: str,
    port: int = 5432,
    user: str = "postgres",
    database: str = "postgres",
    batch_rows: int = 500,
) -> None:
    """Distributed append of ``df`` into an EXISTING Postgres table:
    ``foreachPartition`` opens one wire connection per partition and
    issues multi-row INSERTs of ``batch_rows`` inside one transaction —
    the set-based correction of the reference's per-row
    ``session.commit()`` loop (``main.py:147``). Column order follows
    ``df.columns``; the executor-side closure captures only plain
    strings (no DataFrame/JVM handles)."""
    columns = list(df.columns)
    col_sql = ", ".join(columns)

    def _write_partition(rows) -> None:
        # runs on the executor: the worker imports this module through
        # the package root that session.add_package_to_worker_path puts
        # on the workers' PYTHONPATH
        client = PgWireClient(address, port=port, user=user, database=database)
        try:
            client.query("BEGIN")
            batch: list[str] = []

            def flush() -> None:
                if batch:
                    client.query(
                        f"INSERT INTO {table} ({col_sql}) VALUES " + ", ".join(batch)
                    )
                    batch.clear()

            for row in rows:
                batch.append("(" + ", ".join(sql_literal(row[c]) for c in columns) + ")")
                if len(batch) >= batch_rows:
                    flush()
            flush()
            client.query("COMMIT")
        finally:
            client.close()

    df.foreachPartition(_write_partition)
