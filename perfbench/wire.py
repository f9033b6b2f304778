"""Byte encoders for the benchmark's synthetic captures.

Written from the public formats only (protobuf wire format, HBase 1.x
RPC.proto / Client.proto / HBase.proto field numbers, the libpcap file
format, Ethernet II / IPv4 / TCP headers). Nothing here imports the
package under test, so the output checks compare the program against an
independent encoding of the same traffic model.
"""

from __future__ import annotations

import struct

# -- protobuf wire format -----------------------------------------------------


def varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        if n:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def f_varint(fno: int, value: int) -> bytes:
    return varint(fno << 3) + varint(value)


def f_bytes(fno: int, value: bytes | str) -> bytes:
    if isinstance(value, str):
        value = value.encode()
    return varint((fno << 3) | 2) + varint(len(value)) + value


def delimited(msg: bytes) -> bytes:
    return varint(len(msg)) + msg


# -- HBase client messages ----------------------------------------------------

MUTATION_TYPES = {"append": 0, "increment": 1, "put": 2, "delete": 3}
DURABILITIES = {"use_default": 0, "skip_wal": 1, "async_wal": 2,
                "sync_wal": 3, "fsync_wal": 4}


def region_spec(region_name: bytes) -> bytes:
    # RegionSpecifier(1 type = REGION_NAME, 2 value)
    return f_varint(1, 1) + f_bytes(2, region_name)


def column(family: bytes, qualifiers: list[bytes]) -> bytes:
    # Column(1 family, 2 qualifier[])
    return f_bytes(1, family) + b"".join(f_bytes(2, q) for q in qualifiers)


def get_msg(row: bytes, columns: list[bytes]) -> bytes:
    # Get(1 row, 2 column[])
    return f_bytes(1, row) + b"".join(f_bytes(2, c) for c in columns)


def mutation(row: bytes, mtype: str, qualifier_values: list[tuple[bytes, bytes]],
             durability: str, associated: int = 0) -> bytes:
    # MutationProto(1 row, 2 mutate_type, 3 column_value[], 6 durability,
    # 8 associated_cell_count); ColumnValue(1 family, 2 qualifier_value[]);
    # QualifierValue(1 qualifier, 2 value)
    body = f_bytes(1, row) + f_varint(2, MUTATION_TYPES[mtype])
    if qualifier_values:
        cv = f_bytes(1, b"f") + b"".join(
            f_bytes(2, f_bytes(1, q) + f_bytes(2, v)) for q, v in qualifier_values
        )
        body += f_bytes(3, cv)
    body += f_varint(6, DURABILITIES[durability])
    if associated:
        body += f_varint(8, associated)
    return body


def condition(row: bytes) -> bytes:
    # Condition(1 row, 2 family, 3 qualifier, 4 compare_type, 5 comparator)
    return (f_bytes(1, row) + f_bytes(2, b"f") + f_bytes(3, b"q")
            + f_varint(4, 2) + f_bytes(5, b"\x0a\x00"))


def get_request(region: bytes, get: bytes) -> bytes:
    return f_bytes(1, region_spec(region)) + f_bytes(2, get)


def mutate_request(region: bytes, mut: bytes, cond: bytes | None) -> bytes:
    body = f_bytes(1, region_spec(region)) + f_bytes(2, mut)
    if cond is not None:
        body += f_bytes(3, cond)
    return body


def multi_request(region_actions: list[tuple[bytes, list[bytes]]],
                  cond: bytes | None) -> bytes:
    # MultiRequest(1 regionAction[], 3 condition);
    # RegionAction(1 region, 2 atomic, 3 action[]); Action(1 index, ...)
    body = b""
    for region, actions in region_actions:
        ra = f_bytes(1, region_spec(region))
        for i, act in enumerate(actions):
            ra += f_bytes(3, f_varint(1, i) + act)
        body += f_bytes(1, ra)
    if cond is not None:
        body += f_bytes(3, cond)
    return body


def action_mutation(mut: bytes) -> bytes:
    return f_bytes(2, mut)


def action_get(get: bytes) -> bytes:
    return f_bytes(3, get)


def scan_request(*, region: bytes | None = None, start: bytes | None = None,
                 stop: bytes | None = None, caching: int | None = None,
                 scanner_id: int | None = None, rows: int | None = None,
                 close: bool = False) -> bytes:
    # ScanRequest(1 region, 2 scan, 3 scanner_id, 4 number_of_rows,
    # 5 close_scanner); Scan(3 start_row, 4 stop_row, 17 caching)
    body = b""
    if region is not None:
        body += f_bytes(1, region_spec(region))
        scan = b""
        if start is not None:
            scan += f_bytes(3, start)
        if stop is not None:
            scan += f_bytes(4, stop)
        if caching is not None:
            scan += f_varint(17, caching)
        body += f_bytes(2, scan)
    if scanner_id is not None:
        body += f_varint(3, scanner_id)
    if rows is not None:
        body += f_varint(4, rows)
    if close:
        body += f_varint(5, 1)
    return body


def bulk_load_request(region: bytes) -> bytes:
    # BulkLoadHFileRequest(1 region, 2 family_path[], 3 assign_seq_num)
    fp = f_bytes(1, b"f") + f_bytes(2, b"/staging/f/hfile-0001")
    return f_bytes(1, region_spec(region)) + f_bytes(2, fp) + f_varint(3, 1)


def result_msg(cells: int, embedded: int) -> bytes:
    # Result(1 cell[], 2 associated_cell_count): `embedded` inline Cell
    # messages (1 row, 2 family, 3 qualifier, 4 timestamp, 6 value) and
    # the rest counted as cell-block cells
    body = b"".join(
        f_bytes(1, f_bytes(1, b"r") + f_bytes(2, b"f") + f_bytes(3, b"q%d" % i)
                + f_varint(4, 1700000000000) + f_bytes(6, b"v" * 8))
        for i in range(embedded)
    )
    if cells - embedded:
        body += f_varint(2, cells - embedded)
    return body


def get_response(cells: int, embedded: int) -> bytes:
    return f_bytes(1, result_msg(cells, embedded))


def multi_response(results: list[tuple[int | None, str | None]]) -> bytes:
    # MultiResponse(1 regionActionResult[]); RegionActionResult
    # (1 resultOrException[]); ResultOrException(1 index, 2 result,
    # 3 exception NameBytesPair(1 name, 2 value))
    rar = b""
    for i, (cells, error) in enumerate(results):
        roe = f_varint(1, i)
        if error is not None:
            roe += f_bytes(3, f_bytes(1, error) + f_bytes(2, b"detail"))
        else:
            roe += f_bytes(2, result_msg(cells, min(cells, 1)))
        rar += f_bytes(1, roe)
    return f_bytes(1, rar)


def scan_response(cells_per_result: list[int], scanner_id: int | None,
                  packed: bool) -> bytes:
    # ScanResponse(1 cells_per_result[], 2 scanner_id, 3 more_results)
    body = b""
    if cells_per_result:
        if packed:
            body += f_bytes(1, b"".join(varint(c) for c in cells_per_result))
        else:
            body += b"".join(f_varint(1, c) for c in cells_per_result)
    if scanner_id is not None:
        body += f_varint(2, scanner_id)
    return body + f_varint(3, 1 if cells_per_result else 0)


def mutate_response() -> bytes:
    # MutateResponse(1 result, 2 processed)
    return f_bytes(1, b"") + f_varint(2, 1)


def bulk_load_response() -> bytes:
    return f_varint(1, 1)


# -- RPC frames (RPC.proto) ---------------------------------------------------


def request_frame(call_id: int, method_name: str, param: bytes | None) -> bytes:
    # RequestHeader(1 call_id, 3 method_name, 4 request_param) + param
    header = f_varint(1, call_id) + f_bytes(3, method_name)
    if param is not None:
        header += f_varint(4, 1)
    return delimited(header) + (delimited(param) if param is not None else b"")


def response_frame(call_id: int, error: str | None, body: bytes | None) -> bytes:
    # ResponseHeader(1 call_id, 2 exception ExceptionResponse
    # (1 exception_class_name, 2 stack_trace)) + body
    header = f_varint(1, call_id)
    if error is not None:
        header += f_bytes(2, f_bytes(1, error) + f_bytes(2, "at " + error))
    return delimited(header) + (delimited(body) if body is not None else b"")


def length_prefixed(frame: bytes) -> bytes:
    return struct.pack(">i", len(frame)) + frame


# -- link / network / transport framing and the pcap container --------------

PCAP_MAGIC_US = 0xA1B2C3D4
LINKTYPE_ETHERNET = 1


def _ip_bytes(addr: str) -> bytes:
    return bytes(int(x) for x in addr.split("."))


def _checksum(header: bytes) -> int:
    s = sum(struct.unpack(f">{len(header) // 2}H", header))
    while s >> 16:
        s = (s & 0xFFFF) + (s >> 16)
    return ~s & 0xFFFF


def ethernet_frame(ethertype: int, payload: bytes) -> bytes:
    return b"\x02\x00\x00\x00\x00\x02" + b"\x02\x00\x00\x00\x00\x01" + \
        struct.pack(">H", ethertype) + payload


def ipv4_packet(src: str, dst: str, proto: int, payload: bytes, ident: int) -> bytes:
    header = struct.pack(
        ">BBHHHBBH4s4s", 0x45, 0, 20 + len(payload), ident & 0xFFFF, 0x4000,
        64, proto, 0, _ip_bytes(src), _ip_bytes(dst),
    )
    csum = _checksum(header)
    return header[:10] + struct.pack(">H", csum) + header[12:] + payload


def tcp_segment(sport: int, dport: int, seq: int, ack: int, payload: bytes,
                flags: int = 0x18) -> bytes:
    # 20-byte header + 12 bytes of options (NOP NOP timestamps): data offset 8
    opts = b"\x01\x01\x08\x0a" + struct.pack(">II", seq & 0xFFFFFFFF, ack & 0xFFFFFFFF)
    header = struct.pack(">HHIIBBHHH", sport, dport, seq & 0xFFFFFFFF,
                         ack & 0xFFFFFFFF, 8 << 4, flags, 65535, 0, 0)
    return header + opts + payload


def udp_datagram(sport: int, dport: int, payload: bytes) -> bytes:
    return struct.pack(">HHHH", sport, dport, 8 + len(payload), 0) + payload


def pcap_file(records: list[tuple[int, bytes]]) -> bytes:
    """records: (ts_us, link frame) in file order -> classic pcap bytes."""
    out = [struct.pack("<IHHiIII", PCAP_MAGIC_US, 2, 4, 0, 0, 65535,
                       LINKTYPE_ETHERNET)]
    for ts_us, frame in records:
        out.append(struct.pack("<IIII", ts_us // 1_000_000, ts_us % 1_000_000,
                               len(frame), len(frame)))
        out.append(frame)
    return b"".join(out)
