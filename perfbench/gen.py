"""Seeded load generator: AdGuard query-log JSONL files plus the catalog
tables, written by one process so the program under test sees only files.

One invocation runs these steps in order, printing a word on stdout
after each so the caller can wait for exactly what it needs:

1. ``warm``     one warm-up file of the same mix (``--warm-out``).
2. ``catalog``  the query-catalog parquet tables (``--catalog-out``; the
                ``region … embeddings`` schema ``__spark_entry__`` reads).
3. the query-log files, by mode:

   ``schedule``  open loop. Pre-builds every line, prints ``ready``,
                 waits for ``go <unix_start>`` on stdin, then lands file
                 ``k`` at ``start + k * lines_per_file / rate``.
   ``backlog``   closed loop. Writes every file as fast as it can.
4. ``done``     after the manifest is written.

Every JSONL file is written under a hidden temporary name (the file
source skips names starting with ``.``) and renamed into place, so the
source never lists a half-written file. ``manifest.json`` (written last,
atomically) records each file's line counts, due time and actual write
time, the ``gen_late_s_max`` of the run, and the distinct-answer share.

Run ``python3 gen.py --help`` for the input properties.
"""

from __future__ import annotations

import argparse
import base64
import json
import os
import random
import struct
import sys
import time

# The answer encoder mirrors operators.dnswire.build_answer (A records,
# optional NXDOMAIN rcode); the generator imports nothing from the
# package so it can run alongside the JVM start.
_TYPES = ("A", "AAAA", "HTTPS", "PTR", "TXT", "MX")
_PROTOS = ("", "doh", "dot", "doq")
_TLDS = ("com", "net", "org", "io", "ru", "de", "co.uk", "dev")
_BASE_TS = 1_709_251_200  # 2024-03-01T00:00:00Z


def _name(qname: str) -> bytes:
    out = b""
    for label in qname.split("."):
        out += bytes([len(label)]) + label.encode("ascii")
    return out + b"\x00"


def answer_packet(qname: str, ips: list[int], rcode: int = 0) -> bytes:
    qn = _name(qname)
    rrs = b"".join(
        qn + struct.pack(">HHIHI", 1, 1, 300, 4, ip) for ip in ips
    )
    header = struct.pack(">HHHHHH", 0x1234, 0x8180 | rcode, 1, len(ips), 0, 0)
    return header + qn + struct.pack(">HH", 1, 1) + rrs


def _domains(rng: random.Random, n: int) -> list[str]:
    words = [f"w{i:03d}" for i in range(997)]
    return [
        f"{rng.choice(words)}{i}.{rng.choice(words)}.{rng.choice(_TLDS)}"
        for i in range(n)
    ]


class LineMaker:
    """Deterministic query-log lines for one workload's input properties."""

    def __init__(self, args: argparse.Namespace, seed: int | None = None):
        self.rng = random.Random(args.seed if seed is None else seed)
        self.a = args
        self.domains = _domains(self.rng, args.domains)
        self.clients = [
            f"10.{(i >> 16) & 255}.{(i >> 8) & 255}.{i & 255}"
            for i in self.rng.sample(range(1, 1 << 20), args.clients)
        ]
        # Repeated answers: a small pool with pareto-tailed popularity,
        # the byte-identical packets a resolver returns within a TTL.
        self.pool = [
            base64.b64encode(
                answer_packet(
                    self.domains[i % len(self.domains)],
                    [self.rng.getrandbits(32) for _ in range(1 + i % 3)],
                    rcode=3 if i % 11 == 10 else 0,
                )
            ).decode()
            for i in range(args.answer_pool)
        ]
        self.pool_weights = [1.0 / (k + 1) ** 1.2 for k in range(args.answer_pool)]
        self.n = 0
        self.answers: set[str] = set()
        self.answer_seq: list[str] = []
        self.n_answers = 0
        self.counts = {"good": 0, "bad_json": 0, "missing_key": 0, "bad_answer": 0}

    def line(self) -> str:
        a, rng = self.a, self.rng
        rand = rng.random
        i = self.n
        self.n += 1
        if rand() < 0.5:  # half the lookups follow a pareto-tailed popularity
            qh = self.domains[min(int(rng.paretovariate(1.1)) - 1, len(self.domains) - 1)]
        else:
            qh = self.domains[int(rand() * len(self.domains))]
        ip = self.clients[int(rand() * len(self.clients))]
        ts = _BASE_TS + (i * a.ts_step) % (a.days * 86400) + rand()
        stamp = time.strftime("%Y-%m-%dT%H:%M:%S", time.gmtime(ts))
        stamp += f".{int((ts % 1) * 1e6):06d}Z"
        r = rand()
        kind = "good"
        if r < a.bad_json:
            kind = "bad_json"
        elif r < a.bad_json + a.missing_key:
            kind = "missing_key"
        elif r < a.bad_json + a.missing_key + a.bad_answer:
            kind = "bad_answer"
        self.counts[kind] += 1
        if kind == "bad_json":
            return '{"T":"' + stamp + '","QH":"' + qh + '",'  # truncated JSON
        if kind == "bad_answer":
            if i % 2:
                answer = "!!not-base64!!"
            else:  # valid base64 of a truncated packet
                pkt = base64.b64decode(self.pool[0])
                answer = base64.b64encode(pkt[: len(pkt) - 3]).decode()
        elif rand() < a.distinct_answers:
            answer = base64.b64encode(
                answer_packet(qh, [rng.getrandbits(32), i & 0xFFFFFFFF])
            ).decode()
        else:
            answer = rng.choices(self.pool, self.pool_weights)[0]
        if kind == "good":
            self.n_answers += 1
            self.answers.add(answer)
            if len(self.answer_seq) < self.a.keep_answers:
                self.answer_seq.append(answer)
        rec = {
            "T": stamp,
            "QH": qh,
            "QT": _TYPES[int(rand() * len(_TYPES))],
            "QC": "IN",
            "CP": _PROTOS[int(rand() * len(_PROTOS))],
            "Upstream": f"resolver{int(rand() * 4)}.example.net:53",
            "IP": ip,
            "IsFiltered": "true" if rand() < 0.12 else "false",
            "Elapsed": 50_000 + int(rand() * 4_950_000),
            "Cached": "true" if rand() < 0.3 else "false",
            "Answer": answer,
        }
        if kind == "missing_key":
            del rec[("QT", "IP", "Answer")[i % 3]]
            rec["Result"] = {"IsFiltered": rec.pop("IsFiltered") == "true"}
            rec["Cached"] = rec["Cached"] == "true"
            return json.dumps(rec, separators=(",", ":"))
        # every value is plain ASCII without quotes or backslashes
        return _LINE.format_map(rec)


_LINE = (
    '{{"T":"{T}","QH":"{QH}","QT":"{QT}","QC":"{QC}","CP":"{CP}",'
    '"Upstream":"{Upstream}","IP":"{IP}","Result":{{"IsFiltered":{IsFiltered}}},'
    '"Elapsed":{Elapsed},"Cached":{Cached},"Answer":"{Answer}"}}'
)


def write_atomic(path: str, text: str) -> None:
    d, b = os.path.split(path)
    tmp = os.path.join(d, f".{b}.tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def build_files(maker: LineMaker, n_files: int, lines_per_file: int) -> list:
    files = []
    for k in range(n_files):
        before = dict(maker.counts)
        text = "\n".join(maker.line() for _ in range(lines_per_file)) + "\n"
        counts = {c: maker.counts[c] - before[c] for c in before}
        files.append((f"ql-{k:06d}.jsonl", text, counts))
    return files


def run(args: argparse.Namespace) -> None:
    if args.warm_out:
        warm = LineMaker(args, seed=args.seed + 1_000_003)
        os.makedirs(args.warm_out, exist_ok=True)
        for name, text, _ in build_files(warm, 1, args.warm_lines):
            write_atomic(os.path.join(args.warm_out, name), text)
        print("warm", flush=True)
    if args.catalog_out:
        from catalog_data import write_catalog

        write_catalog(args.catalog_out, args.seed, args.scale)
        print("catalog", flush=True)
    maker = LineMaker(args)
    files = build_files(maker, args.files, args.lines_per_file)
    os.makedirs(args.out, exist_ok=True)
    start = None
    if args.mode == "schedule":
        print("ready", flush=True)
        cmd = sys.stdin.readline().split()
        if not cmd or cmd[0] != "go":
            raise SystemExit("expected 'go <unix_start>' on stdin")
        start = float(cmd[1])
    period = args.lines_per_file / args.rate if args.rate else 0.0
    records = []
    for k, (name, text, counts) in enumerate(files):
        due = None
        if start is not None:
            due = start + k * period
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
        write_atomic(os.path.join(args.out, name), text)
        records.append({"name": name, "lines": args.lines_per_file,
                        "due": due, "written": time.time(), **counts})
    late = [r["written"] - r["due"] for r in records if r["due"] is not None]
    manifest = {
        "mode": args.mode,
        "seed": args.seed,
        "files": records,
        "lines": sum(r["lines"] for r in records),
        "counts": maker.counts,
        "gen_late_s_max": max(late) if late else 0.0,
        "distinct_answer_share": len(maker.answers) / max(maker.n_answers, 1),
        "answers": maker.answer_seq,
    }
    write_atomic(args.manifest, json.dumps(manifest))
    print("done", flush=True)


def parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("mode", choices=["schedule", "backlog"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--out", required=True, help="directory the files land in")
    p.add_argument("--manifest", required=True, help="manifest.json path")
    p.add_argument("--warm-out", help="first write one warm-up file here")
    p.add_argument("--warm-lines", type=int, default=2000)
    p.add_argument("--catalog-out", help="then write the catalog tables here")
    p.add_argument("--files", type=int, default=1)
    p.add_argument("--lines-per-file", type=int, default=100)
    p.add_argument("--rate", type=float, default=0.0, help="lines/s (schedule)")
    p.add_argument("--clients", type=int, default=40, help="IP cardinality")
    p.add_argument("--domains", type=int, default=3000, help="QH cardinality")
    p.add_argument("--distinct-answers", type=float, default=0.0,
                   help="share of good lines with a never-repeated packet")
    p.add_argument("--answer-pool", type=int, default=48,
                   help="repeated packets, pareto-weighted")
    p.add_argument("--bad-json", type=float, default=0.004)
    p.add_argument("--missing-key", type=float, default=0.003)
    p.add_argument("--bad-answer", type=float, default=0.003,
                   help="bad base64 or truncated packet")
    p.add_argument("--days", type=int, default=3, help="event-time span")
    p.add_argument("--ts-step", type=int, default=17, help="seconds per line")
    p.add_argument("--keep-answers", type=int, default=20000,
                   help="leading good answers kept, in order, for timing")
    p.add_argument("--scale", type=float, default=0.01, help="catalog scale")
    return p


def main() -> None:
    run(parser().parse_args())


if __name__ == "__main__":
    main()
