"""Seeded NetObserv flow corpus and its exact expected sink output.

Each record carries all 30 ``FLOW_INPUT_SCHEMA`` fields (~780 bytes), as
real NetObserv exports do, written as one JSON object per line. About 5% of
records omit one namespace key, which the pipeline fills with the Go zero
value. A dirty corpus also holds ~1% malformed records of three kinds, each
dropped by the shipped decode:

- ``truncated``: the line is cut inside the object (invalid JSON);
- ``bad_number``: a consumed numeric field holds a non-numeric string;
- ``bad_extra``: an unconsumed numeric field holds a string, so the record
  fails the 30-field schema even though the 12 exported fields are fine.

The expected output is computed here, in Python, from the reference
semantics (``export_clickhouse.go:45-80``): missing key -> "" / 0, counters
narrowed with ``floor``. The checksum is order-insensitive: the sum over
rows of CRC-32 of the 12 normalized values joined by ``\\x1f`` (see
``row_key``); the benchmark's sink computes the same sum in Spark.
"""

from __future__ import annotations

import math
import os
import random
import zlib
from dataclasses import dataclass, field

SEP = "\x1f"

NAMESPACES = (
    "netobserv", "openshift-dns", "openshift-ingress", "kube-system",
    "payments", "checkout", "catalog", "frontend", "monitoring", "storage",
)
KINDS = ("Pod", "Pod", "Pod", "Service", "Node")
OWNER_KINDS = ("Deployment", "StatefulSet", "DaemonSet", "ReplicaSet")
MALFORMED_KINDS = ("truncated", "bad_number", "bad_extra")

_TEMPLATE = (
    '{{"TimeFlowStartMs":{start},"TimeFlowEndMs":{end},'
    '"SrcAddr":"{s_ip}","DstAddr":"{d_ip}",'
    '"SrcK8S_Name":"{s_name}","DstK8S_Name":"{d_name}",'
    '"SrcK8S_Type":"{s_kind}","DstK8S_Type":"{d_kind}",'
    "{s_ns}{d_ns}"
    '"Bytes":{bytes},"Packets":{packets},'
    '"SrcPort":{s_port},"DstPort":{d_port},"Proto":{proto},'
    '"SrcK8S_HostIP":"{s_host_ip}","DstK8S_HostIP":"{d_host_ip}",'
    '"SrcK8S_HostName":"{s_host}","DstK8S_HostName":"{d_host}",'
    '"SrcK8S_OwnerName":"{s_owner}","DstK8S_OwnerName":"{d_owner}",'
    '"SrcK8S_OwnerType":"{s_otype}","DstK8S_OwnerType":"{d_otype}",'
    '"FlowDirection":{direction},"Duplicate":"false","DnsId":{dns_id},'
    '"DnsLatencyMs":{dns_ms},"TimeFlowRttNs":{rtt},'
    '"PktDropBytes":{drop_bytes},"PktDropPackets":{drop_packets}}}'
)


@dataclass
class Expected:
    """What the sink must receive for a corpus."""

    rows: int = 0
    checksum: int = 0
    malformed: int = 0
    malformed_by_kind: dict = field(default_factory=dict)
    files: int = 0
    bytes: int = 0
    # file name -> (clean rows, checksum) of that file
    per_file: dict = field(default_factory=dict)


def row_key(start, end, src_ip, dst_ip, src_name, dst_name, src_kind, dst_kind,
            src_ns, dst_ns, nbytes, packets) -> str:
    """The string the checksum hashes for one normalized row. Times are
    integral epoch-ms, so ``int(start)`` is exact."""
    return SEP.join((
        str(int(start)), str(int(end)), src_ip, dst_ip, src_name, dst_name,
        src_kind, dst_kind, src_ns, dst_ns, str(nbytes), str(packets),
    ))


def _entities(rng: random.Random, n: int) -> list[dict]:
    out = []
    for i in range(n):
        ns = rng.choice(NAMESPACES)
        kind = rng.choice(KINDS)
        node = rng.randrange(12)
        owner = f"{ns}-svc{rng.randrange(40)}"
        out.append({
            "ip": f"10.{rng.randrange(128, 132)}.{rng.randrange(256)}.{i % 250 + 2}",
            "name": f"{owner}-{rng.randrange(16**8):08x}-{rng.randrange(36**5):05d}",
            "kind": kind,
            "ns": ns,
            "host_ip": f"192.168.{node // 8}.{node + 10}",
            "host": f"ip-192-168-{node // 8}-{node + 10}.ec2.internal",
            "owner": owner,
            "otype": rng.choice(OWNER_KINDS),
        })
    return out


def _record(rng: random.Random, ents: list[dict], t: int) -> tuple[str, str]:
    """One clean record: (JSON line, checksum key of its normalized row)."""
    s = ents[rng.randrange(len(ents))]
    d = ents[rng.randrange(len(ents))]
    start = t + rng.randrange(1000)
    end = start + rng.randrange(1, 5000)
    packets = rng.randrange(1, 2000)
    if rng.random() < 0.25:  # a fractional counter exercises floor narrowing
        nbytes = packets * 64 + rng.randrange(1500) + rng.randrange(1, 100) / 100
    else:
        nbytes = packets * 64 + rng.randrange(1500)
    s_ns, d_ns = s["ns"], d["ns"]
    s_ns_field = f'"SrcK8S_Namespace":"{s_ns}",'
    d_ns_field = f'"DstK8S_Namespace":"{d_ns}",'
    miss = rng.random()
    if miss < 0.025:
        s_ns, s_ns_field = "", ""
    elif miss < 0.05:
        d_ns, d_ns_field = "", ""
    line = _TEMPLATE.format(
        start=start, end=end, s_ip=s["ip"], d_ip=d["ip"],
        s_name=s["name"], d_name=d["name"], s_kind=s["kind"], d_kind=d["kind"],
        s_ns=s_ns_field, d_ns=d_ns_field, bytes=nbytes, packets=packets,
        s_port=rng.randrange(1024, 65536), d_port=rng.choice((443, 80, 53, 8080, 5432)),
        proto=rng.choice((6, 6, 6, 17)),
        s_host_ip=s["host_ip"], d_host_ip=d["host_ip"], s_host=s["host"], d_host=d["host"],
        s_owner=s["owner"], d_owner=d["owner"], s_otype=s["otype"], d_otype=d["otype"],
        direction=rng.randrange(3), dns_id=rng.randrange(65536),
        dns_ms=rng.randrange(50), rtt=rng.randrange(10_000, 5_000_000),
        drop_bytes=0, drop_packets=0,
    )
    key = row_key(start, end, s["ip"], d["ip"], s["name"], d["name"], s["kind"],
                  d["kind"], s_ns, d_ns, math.floor(nbytes), packets)
    return line, key


def _malform(rng: random.Random, line: str, kind: str) -> str:
    if kind == "truncated":
        return line[: rng.randrange(10, len(line) - 10)]
    if kind == "bad_number":
        field_name = rng.choice(("Bytes", "Packets", "TimeFlowStartMs"))
        head, _, tail = line.partition(f'"{field_name}":')
        return f'{head}"{field_name}":"n/a",{tail.partition(",")[2]}'
    head, _, tail = line.partition('"Proto":')
    return f'{head}"Proto":"tcp",{tail.partition(",")[2]}'


def write_corpus(
    out_dir: str,
    seed: int,
    *,
    files: int,
    rows_per_file: int,
    malformed_rate: float = 0.0,
) -> Expected:
    """Write ``files`` JSON-lines files into ``out_dir`` and return the exact
    expected sink output. The same arguments always give the same bytes."""
    rng = random.Random(seed)
    ents = _entities(rng, 300)
    exp = Expected(malformed_by_kind={k: 0 for k in MALFORMED_KINDS})
    os.makedirs(out_dir, exist_ok=True)
    t = 1_700_000_000_000 + rng.randrange(10**9)
    for f in range(files):
        lines = []
        clean = checksum = 0
        for _ in range(rows_per_file):
            t += rng.randrange(3)
            line, key = _record(rng, ents, t)
            if malformed_rate and rng.random() < malformed_rate:
                kind = MALFORMED_KINDS[rng.randrange(len(MALFORMED_KINDS))]
                line = _malform(rng, line, kind)
                exp.malformed += 1
                exp.malformed_by_kind[kind] += 1
            else:
                checksum += zlib.crc32(key.encode())
                clean += 1
            lines.append(line)
        data = ("\n".join(lines) + "\n").encode()
        name = f"flows-{f:05d}.json"
        with open(os.path.join(out_dir, name), "wb") as fh:
            fh.write(data)
        exp.rows += clean
        exp.checksum += checksum
        exp.bytes += len(data)
        exp.per_file[name] = (clean, checksum)
    exp.files = files
    return exp
