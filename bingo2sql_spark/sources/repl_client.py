"""S1 — MySQL replication-protocol client (pure stdlib): connect as a
replica, authenticate, COM_BINLOG_DUMP, stream binlog events into the
raw-event envelope.

This is the network half of the reference's tailer
(core/parser.go:330-520: BinlogSyncer config at 379-404 — ServerID,
(start_file, start_pos) — and the event loop at 415-481), implemented
directly against the public MySQL client/server protocol instead of a
driver library:

- packet framing: 3-byte little-endian payload length + 1-byte sequence
  id;
- HandshakeV10 parse (auth seed split across the two plugin-data parts)
  and HandshakeResponse41 (CLIENT_PROTOCOL_41 | CLIENT_SECURE_CONNECTION
  | CLIENT_PLUGIN_AUTH);
- mysql_native_password scramble:
  SHA1(seed + SHA1(SHA1(password))) XOR SHA1(password);
- COM_QUERY "SET @master_binlog_checksum=..." (servers require the
  session variable before a dump, go-mysql does the same), optional
  COM_REGISTER_SLAVE, then COM_BINLOG_DUMP(pos, flags, server_id, file);
- the event stream: each packet is 0x00 + one raw binlog event
  (header+body, checksummed per the FDE); 0xFE = EOF, 0xFF = ERR
  (raised with the server's message). Events feed the SAME
  BinlogEventParser the file scan uses — ROTATE switches the current
  file name, FDE resets the checksum state, TABLE_MAP/GTID/Query carry
  across exactly as on disk.

No mysqld exists in this sandbox, so the protocol conformance tests run
the client against tests/fake_mysqld.py — an in-box stdlib server that
speaks the same wire format (handshake, scramble VERIFICATION, dump
streaming). Against a real server the only untested surface is TLS and
auth plugins beyond mysql_native_password (caching_sha2_password needs
an RSA exchange); both are documented, not structural.

Spark integration is the landing-zone architecture every other source
uses: `tail_to_landing` drains the stream into chunked parquet files
that `start_ingest`/`replay` consume. The protocol stream is inherently
single-connection (one replica position), exactly like the reference's
single tailer goroutine — scale lives behind the landing, where Spark
fans out.
"""

from __future__ import annotations

import hashlib
import socket
import struct
from collections.abc import Iterator

from bingo2sql_spark.sources.binlog_binary import BinlogEventParser

# capability flags (public protocol constants)
CLIENT_LONG_PASSWORD = 0x00000001
CLIENT_LONG_FLAG = 0x00000004
CLIENT_PROTOCOL_41 = 0x00000200
CLIENT_SECURE_CONNECTION = 0x00008000
CLIENT_PLUGIN_AUTH = 0x00080000

COM_QUERY = 0x03
COM_REGISTER_SLAVE = 0x15
COM_BINLOG_DUMP = 0x12

BINLOG_DUMP_NON_BLOCK = 0x01


class MySQLProtocolError(RuntimeError):
    """Server ERR packet or malformed protocol exchange."""


def native_password_scramble(password: str, seed: bytes) -> bytes:
    """mysql_native_password token (public algorithm):
    SHA1(seed + SHA1(SHA1(pwd))) XOR SHA1(pwd). Empty password -> b''."""
    if not password:
        return b""
    p1 = hashlib.sha1(password.encode()).digest()
    p2 = hashlib.sha1(p1).digest()
    mix = hashlib.sha1(seed + p2).digest()
    return bytes(a ^ b for a, b in zip(mix, p1))


class _Conn:
    """Packet-framed socket: 3-byte LE length + 1-byte sequence id."""

    def __init__(self, sock: socket.socket):
        self.sock = sock
        self.seq = 0

    def _recv_exact(self, n: int) -> bytes:
        buf = b""
        while len(buf) < n:
            chunk = self.sock.recv(n - len(buf))
            if not chunk:
                raise MySQLProtocolError("connection closed mid-packet")
            buf += chunk
        return buf

    def read_packet(self) -> bytes:
        """One LOGICAL packet: payloads of exactly 0xFFFFFF bytes are
        continued in the next wire packet (the documented 16 MB split —
        a >16 MB rows event arrives as several frames; the final frame
        is the first with length < 0xFFFFFF, possibly empty)."""
        out = b""
        while True:
            head = self._recv_exact(4)
            length = int.from_bytes(head[:3], "little")
            self.seq = (head[3] + 1) % 256
            out += self._recv_exact(length)
            if length < 0xFFFFFF:
                return out

    def send_packet(self, payload: bytes, seq: int | None = None) -> None:
        if seq is not None:
            self.seq = seq
        while True:
            chunk, payload = payload[:0xFFFFFF], payload[0xFFFFFF:]
            self.sock.sendall(
                len(chunk).to_bytes(3, "little") + bytes([self.seq]) + chunk
            )
            self.seq = (self.seq + 1) % 256
            if len(chunk) < 0xFFFFFF:
                return


def _expect_ok(payload: bytes) -> None:
    if payload[:1] == b"\xff":
        code = int.from_bytes(payload[1:3], "little")
        raise MySQLProtocolError(
            f"server error {code}: {payload[3:].decode('utf-8', 'replace')}"
        )
    if payload[:1] not in (b"\x00", b"\xfe"):
        raise MySQLProtocolError(f"expected OK, got 0x{payload[0]:02x}")


class ReplicationClient:
    """Replica-protocol tail: handshake + auth + COM_BINLOG_DUMP,
    yielding raw-event envelope dicts (BinlogEventParser output;
    `names_for` is its column registry, UNSIGNED flags included)."""

    def __init__(
        self,
        host: str,
        port: int,
        user: str,
        password: str = "",
        server_id: int = 2000000111,  # the reference's ServerID (parser.go:382)
        names_for: dict[str, list] | None = None,
        connect_timeout: float = 10.0,
    ):
        self.host, self.port = host, port
        self.user, self.password = user, password
        self.server_id = server_id
        self.names_for = names_for
        self.connect_timeout = connect_timeout
        self._conn: _Conn | None = None

    # -- connection ---------------------------------------------------------

    def connect(self) -> dict:
        """TCP connect + HandshakeV10 + HandshakeResponse41 + auth.
        Returns {"server_version": ...} on success."""
        sock = socket.create_connection(
            (self.host, self.port), timeout=self.connect_timeout
        )
        conn = _Conn(sock)
        hs = conn.read_packet()
        if hs[:1] == b"\xff":
            _expect_ok(hs)
        if hs[0] != 0x0A:
            raise MySQLProtocolError(f"unsupported protocol version {hs[0]}")
        nul = hs.index(b"\x00", 1)
        server_version = hs[1:nul].decode("utf-8", "replace")
        off = nul + 1
        off += 4  # thread id
        seed = hs[off : off + 8]
        off += 8 + 1  # auth-plugin-data-part-1 + filler
        cap_low = int.from_bytes(hs[off : off + 2], "little")
        off += 2
        cap_high = 0
        if len(hs) > off:
            off += 1 + 2  # charset + status
            cap_high = int.from_bytes(hs[off : off + 2], "little")
            off += 2
            auth_len = hs[off]
            off += 1 + 10  # auth data len + reserved
            if (cap_high << 16) & CLIENT_PLUGIN_AUTH or auth_len:
                part2 = hs[off : off + max(13, auth_len - 8) - 1]
                seed = seed + part2.rstrip(b"\x00")
        caps = (
            CLIENT_LONG_PASSWORD
            | CLIENT_LONG_FLAG
            | CLIENT_PROTOCOL_41
            | CLIENT_SECURE_CONNECTION
            | CLIENT_PLUGIN_AUTH
        )
        token = native_password_scramble(self.password, seed[:20])
        resp = (
            struct.pack("<IIB", caps, 1 << 24, 33)  # caps, max packet, utf8
            + bytes(23)
            + self.user.encode()
            + b"\x00"
            + bytes([len(token)])
            + token
            + b"mysql_native_password\x00"
        )
        conn.send_packet(resp, seq=1)
        reply = conn.read_packet()
        if reply[:1] == b"\xfe" and len(reply) > 1:
            # AuthSwitchRequest (ADVICE r8): the account's plugin
            # differs from the announced mysql_native_password (e.g.
            # caching_sha2_password, the MySQL 8 default). Treating the
            # 0xFE as OK would desync the session on the next command —
            # fail with the plugin name instead.
            name = reply[1:].split(b"\x00", 1)[0].decode("utf-8", "replace")
            raise MySQLProtocolError(
                f"server requested auth plugin {name!r}; only "
                f"mysql_native_password is supported"
            )
        _expect_ok(reply)
        self._conn = conn
        return {"server_version": server_version, "capabilities_low": cap_low}

    def _command(self, payload: bytes) -> bytes:
        assert self._conn is not None, "connect() first"
        self._conn.send_packet(payload, seq=0)
        return self._conn.read_packet()

    def query_ok(self, sql: str) -> None:
        _expect_ok(self._command(bytes([COM_QUERY]) + sql.encode()))

    def query_scalar(self, sql: str) -> str | None:
        """COM_QUERY returning ONE text-protocol value (first column of
        the first row), or None for NULL / an empty result. Minimal
        classic-resultset reader: column-count packet, column
        definitions to EOF, row packets to EOF."""
        from bingo2sql_spark.sources.binlog_binary import _lenenc

        first = self._command(bytes([COM_QUERY]) + sql.encode())
        if first[:1] == b"\xff":
            _expect_ok(first)  # raises with the server message
        if first[:1] == b"\x00":
            return None  # OK packet: statement produced no resultset
        n_cols, _ = _lenenc(first, 0)
        assert self._conn is not None
        for _ in range(n_cols):  # column definitions
            self._conn.read_packet()
        pkt = self._conn.read_packet()
        if pkt[:1] == b"\xfe" and len(pkt) < 9:  # EOF after definitions
            pkt = self._conn.read_packet()
        value: str | None = None
        seen_row = False
        while not (pkt[:1] == b"\xfe" and len(pkt) < 9):
            if pkt[:1] == b"\xff":
                _expect_ok(pkt)
            if not seen_row:
                seen_row = True
                if pkt[:1] == b"\xfb":  # NULL
                    value = None
                else:
                    n, off = _lenenc(pkt, 0)
                    value = pkt[off : off + n].decode("utf-8", "replace")
            pkt = self._conn.read_packet()
        return value

    def register_slave(self) -> None:
        """COM_REGISTER_SLAVE — optional, mirrors go-mysql's default."""
        payload = bytes([COM_REGISTER_SLAVE]) + struct.pack(
            "<IBBBHIII", self.server_id, 0, 0, 0, 0, 0, 0, 0
        )
        _expect_ok(self._command(payload))

    # -- the dump -----------------------------------------------------------

    def binlog_dump(
        self,
        start_file: str,
        start_pos: int = 4,
        non_blocking: bool = True,
        schema_ver: int = 2,
    ) -> Iterator[dict]:
        """Stream events from (start_file, start_pos) as envelope dicts.
        non_blocking=True asks the server to send EOF at end-of-log
        (the batch drain shape); False tails until the connection drops
        (--stop-never)."""
        assert self._conn is not None, "connect() first"
        # servers refuse a dump until the session declares it can handle
        # checksummed events (the FDE still tells us whether they ARE)
        self.query_ok("SET @master_binlog_checksum= @@global.binlog_checksum")
        # Pre-seed the parser's checksum state from the server (ADVICE
        # r8): a real server sends an ARTIFICIAL ROTATE before the FDE
        # at dump start; with binlog_checksum=CRC32 that rotate carries
        # a CRC tail, and a parser that only learns the algorithm from
        # the FDE would append the 4 CRC bytes to the rotate's file
        # name — corrupting log_file (and the ordinal-packed seq) for
        # the whole session. go-mysql likewise learns the algorithm
        # before the dump. Servers that cannot answer the query leave
        # the FDE-detect behavior unchanged.
        try:
            cs = self.query_scalar("SELECT @@global.binlog_checksum")
        except MySQLProtocolError:
            cs = None
        flags = BINLOG_DUMP_NON_BLOCK if non_blocking else 0
        payload = (
            bytes([COM_BINLOG_DUMP])
            + struct.pack("<IHI", max(start_pos, 4), flags, self.server_id)
            + start_file.encode()
        )
        self._conn.send_packet(payload, seq=0)
        parser = BinlogEventParser(
            log_file=start_file, names_for=self.names_for, schema_ver=schema_ver
        )
        parser.checksummed = bool(cs) and cs.upper() == "CRC32"
        pos = start_pos
        while True:
            pkt = self._conn.read_packet()
            marker = pkt[:1]
            if marker == b"\xfe" and len(pkt) < 9:
                return  # EOF
            if marker == b"\xff":
                _expect_ok(pkt)
            event = pkt[1:]
            # header's log_pos field = END position in the current file;
            # the event's START offset is end - size (ROTATE events
            # carry pos 0 and reset the cursor via the parser)
            end_pos = int.from_bytes(event[13:17], "little")
            size = int.from_bytes(event[9:13], "little")
            start_off = end_pos - size if end_pos >= size else pos
            yield from parser.feed(event, start_off)
            pos = end_pos

    def close(self) -> None:
        if self._conn is not None:
            try:
                self._conn.sock.close()
            finally:
                self._conn = None


def tail_to_landing(
    spark,
    client: ReplicationClient,
    landing_dir: str,
    start_file: str,
    start_pos: int = 4,
    chunk_rows: int = 10_000,
) -> int:
    """Drain the replication stream into a chunked RAW_EVENT parquet
    landing that replay()/start_ingest() consume — the connector
    architecture every other source uses (the stream is one connection,
    the landing is where Spark fans out). Returns rows landed."""
    from pyspark.sql import types as T

    from bingo2sql_spark import schema as S

    out_schema = T.StructType(
        S.RAW_EVENT.fields + [T.StructField("statement", T.StringType(), True)]
    )
    total = 0
    chunk: list[dict] = []
    part = 0

    def flush():
        nonlocal part, total
        if not chunk:
            return
        spark.createDataFrame(chunk, out_schema).coalesce(1).write.mode(
            "append"
        ).parquet(landing_dir)
        total += len(chunk)
        part += 1
        chunk.clear()

    for row in client.binlog_dump(start_file, start_pos):
        chunk.append(row)
        if len(chunk) >= chunk_rows:
            flush()
    flush()
    return total
