"""Seeded input generators for the benchmark.

Every syslog line is rendered here from its ground-truth labels (rfc,
facility, severity, UTC hour, source, planted error), so the output checks
compare the job's tables against labels known by construction.  Nothing
here calls ``sparklog.fixtures``: editing a test fixture cannot move a
workload.

The document/embedding corpus has the shape of the sf0.1 test tables
(30-word vocabulary, 10-100 words per document, five languages, twenty
sources, 5% near duplicates made by appending " dup" to another text,
0.16% exact copies; unit-norm 64-d float32 vectors with ten labels),
generated from the seed at any size, because the benchmark may read only
its own checkout.
"""

from __future__ import annotations

import os

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

# 3164 lines carry no year; the jobs run with ParseConfig(default_year=...)
YEAR = 2025
# all timestamps fall in [BASE, BASE + 48h): October, so every 3164 day is
# two digits and no leap-day rule applies
BASE = np.datetime64("2025-10-10T00:00:00", "s")
WINDOW_S = 48 * 3600
MONTHS = np.array(["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug",
                   "Sep", "Oct", "Nov", "Dec"])
SOURCES = np.array(["edge", "dc1", "dc2", "iot"])
TAGS = np.array(["su", "sshd", "cron", "kernel", "systemd", "nginx",
                 "postfix", "chronyd", "dockerd", "kubelet"])
# severity class routing from the pipeline spec: 0-3 crit, 4-5 warn,
# 6-7 info; parse failures go to the dead-letter sink
SEV_CLASS = np.array(["crit"] * 4 + ["warn"] * 2 + ["info"] * 2)
CLASS_SEVS = {"crit": [0, 1, 2, 3], "warn": [4, 5], "info": [6, 7]}
HOT_HOST = "host0"


class Lines:
    """Generated lines plus their labels, one entry per row.

    ``rfc`` is what dialect detection must report (0 unknown, 1 RFC3164,
    2 RFC5424); ``hour`` is the UTC epoch hour of the timestamp (-1 when
    the line has none); ``error`` is True for planted malformed lines."""

    def __init__(self, raw, rfc, facility, severity, hour, source, error):
        self.raw = list(raw)
        self.labels = pd.DataFrame({
            "rfc": np.asarray(rfc, np.int64),
            "facility": np.asarray(facility, np.int64),
            "severity": np.asarray(severity, np.int64),
            "hour": np.asarray(hour, np.int64),
            "source": np.asarray(source, object),
            "error": np.asarray(error, bool),
        })

    def __len__(self):
        return len(self.raw)


def _host_names(rng, n, n_hosts=200, alpha=0.8):
    """Mildly Zipf-skewed host pool (weight ~ 1/rank^alpha)."""
    w = 1.0 / np.arange(1, n_hosts + 1) ** alpha
    idx = rng.choice(n_hosts, n, p=w / w.sum())
    return np.char.add("host", idx.astype(str))


def _severity_for_class(rng, cls):
    sev = np.empty(len(cls), np.int64)
    for name, sevs in CLASS_SEVS.items():
        m = cls == name
        sev[m] = rng.choice(sevs, int(m.sum()))
    return sev


def _stamp_parts(rel_s):
    """seconds after BASE -> (YYYY-MM-DD, HH:MM:SS, month index, day)."""
    iso = np.datetime_as_string(BASE + rel_s, unit="s")
    date = np.array([s[:10] for s in iso])
    clock = np.array([s[11:] for s in iso])
    month = np.array([int(s[5:7]) - 1 for s in iso])
    day = np.array([s[8:10] for s in iso])
    return date, clock, month, day


def _valid_3164(pri, utc_s, hosts, tags, i):
    _, clock, month, day = _stamp_parts(utc_s)
    return [f"<{p}>{MONTHS[m]} {d} {c} {h} {t}[{k % 9973}]: "
            f"job {k} finished in {k % 997} ms"
            for p, m, d, c, h, t, k
            in zip(pri, month, day, clock, hosts, tags, i)]


def _valid_5424(rng, pri, utc_s, hosts, i):
    """Canonical RFC5424 with Z or numeric offsets and 0-3 digit fractions;
    the rendered wall clock is UTC shifted by the offset."""
    off_min = rng.choice([0, 0, 120, -300], len(pri))
    date, clock, _, _ = _stamp_parts(utc_s + off_min * 60)
    frac = rng.integers(0, 4, len(pri))
    out = []
    for p, d, c, o, f, h, k in zip(pri, date, clock, off_min, frac, hosts,
                                   i):
        tz = "Z" if o == 0 else (
            f"{'+' if o > 0 else '-'}{abs(o) // 60:02d}:{abs(o) % 60:02d}")
        fr = "" if f == 0 else "." + str(k % 10 ** f).zfill(f)
        sd = "-" if k % 3 else f'[meta@1 seq="{k}"]'
        out.append(f"<{p}>1 {d}T{c}{fr}{tz} {h} app{k % 50:02d} "
                   f"{k % 9999} ID{k % 97} {sd} event {k} value={k % 13}")
    return out


# Planted malformed lines: (template, detected rfc).  Detection looks for
# '>' in the first 10 bytes; a digit after it means RFC5424, any other
# byte RFC3164; no '>' in a line shorter than 10 bytes is unknown.
CANONICAL_ERRORS = [
    ("<{big}>broken line {k}", 1),                          # priority
    ("<{p}>NotAMonth {k} garbage", 1),                      # timestamp
    ("<{p}>1 20XX-99-99T99:99:99Z h a - - - broken", 2),    # year
]

ADVERSARIAL_ERRORS = CANONICAL_ERRORS + [
    ("", 0),                                                # empty line
    ("<{p}", 0),                                            # no '>'
    ("{p}>Oct 11 22:14:15 host tag: x {k}", 1),             # no '<'
    ("<>Oct 11 22:14:15 host tag: x {k}", 1),               # empty pri
    ("<7a8>Oct 11 22:14:15 host tag: x {k}", 1),            # non-digit
    ("<{p}>Oct 34 32:72:82 host{k} tag: x", 1),             # bad clock
    ("<{p}>1 2025-10-11T22:14:15.003Z host " + "s" * 49
     + " - - - m{k}", 2),                                   # app too long
    ("<{p}>1 2025-10-11T22:14:15.003Z host app " + "a" * 129
     + " - - m{k}", 2),                                     # proc too long
    ("<{p}>1 2025-10-11T22:14:15.003Z host app - " + "a" * 33
     + " - m{k}", 2),                                       # msgid too long
    ("<{p}>1 2025-10-11T22:14:15.003Z host app - ID47 no-sd-{k}", 2),
    ("<{p}>1 2025-13-11T22:14:15.003Z h a - - - m{k}", 2),  # month
    ("<{p}>1 2025-10-32T22:14:15.003Z h a - - - m{k}", 2),  # day
    ("<{p}>1 2025-10-11x22:14:15.003Z h a - - - m{k}", 2),  # time sep
    ("<{p}>1 2025-10-11T24:14:15.003Z h a - - - m{k}", 2),  # hour 24
]


def _assemble(rng, n, parts):
    """Shuffle row groups (raw list, label dict) into one Lines."""
    raw = sum((p[0] for p in parts), [])
    lab = {c: np.concatenate([np.asarray(p[1][c]) for p in parts])
           for c in ("rfc", "facility", "severity", "hour", "error")}
    perm = rng.permutation(n)
    return Lines([raw[j] for j in perm], lab["rfc"][perm],
                 lab["facility"][perm], lab["severity"][perm],
                 lab["hour"][perm], rng.choice(SOURCES, n), lab["error"][perm])


def _valid_rows(rng, n, k0, hosts=None, force_5424_info=None):
    """Canonical valid lines with labels; ``force_5424_info`` marks rows
    pinned to the hot (RFC5424, info) sink key."""
    cls = rng.choice(np.array(["crit", "warn", "info"]), n)
    is5424 = rng.random(n) < 0.5
    if force_5424_info is not None:
        cls[force_5424_info] = "info"
        is5424 |= force_5424_info
    sev = _severity_for_class(rng, cls)
    fac = rng.integers(0, 24, n)
    pri = fac * 8 + sev
    utc_s = rng.integers(0, WINDOW_S, n)
    hosts = _host_names(rng, n) if hosts is None else hosts
    tags = rng.choice(TAGS, n)
    i = np.arange(k0, k0 + n)
    raw = np.empty(n, object)
    m5 = np.flatnonzero(is5424)
    m3 = np.flatnonzero(~is5424)
    raw[m3] = _valid_3164(pri[m3], utc_s[m3], hosts[m3], tags[m3], i[m3])
    raw[m5] = _valid_5424(rng, pri[m5], utc_s[m5], hosts[m5], i[m5])
    hour = (BASE.astype(np.int64) + utc_s) // 3600
    return list(raw), dict(rfc=np.where(is5424, 2, 1), facility=fac,
                           severity=sev, hour=hour,
                           error=np.zeros(n, bool))


def _error_rows(rng, templates, n, k0):
    pick = rng.integers(0, len(templates), n)
    pri = rng.integers(0, 192, n)
    big = rng.integers(1000, 99999, n)
    raw = [templates[t][0].format(p=p, big=b, k=k0 + j)
           for j, (t, p, b) in enumerate(zip(pick, pri, big))]
    z = np.zeros(n, np.int64)
    return raw, dict(rfc=np.array([templates[t][1] for t in pick], np.int64),
                     facility=z, severity=z, hour=z - 1,
                     error=np.ones(n, bool))


def canonical_lines(n: int, seed: int) -> Lines:
    """~50/50 RFC3164/RFC5424, 2% planted malformed lines, mild Zipf
    hosts, sink keys spread evenly over (rfc, severity class)."""
    rng = np.random.default_rng([seed, 1])
    n_err = int(round(n * 0.02))
    return _assemble(rng, n, [_valid_rows(rng, n - n_err, 0),
                              _error_rows(rng, CANONICAL_ERRORS, n_err,
                                          n - n_err)])


def _quirk_rows(rng, n, k0, hot):
    """Valid lines the Arrow fast path does not accept, so the masked-column
    slow path parses them: NIL RFC5424 timestamps, RFC3164 tags longer than
    the 32-byte tag window, and RFC5424 structured data with a space before
    a quoted value."""
    kind = rng.integers(0, 3, n)
    kind[hot] = 0
    cls = rng.choice(np.array(["crit", "warn", "info"]), n)
    cls[hot] = "info"
    sev = _severity_for_class(rng, cls)
    fac = rng.integers(0, 24, n)
    pri = fac * 8 + sev
    hosts = _host_names(rng, n)
    hosts[hot] = HOT_HOST
    utc_s = rng.integers(0, WINDOW_S, n)
    date, clock, month, day = _stamp_parts(utc_s)
    hour = (BASE.astype(np.int64) + utc_s) // 3600
    raw = []
    for j in range(n):
        k = k0 + j
        p, h = pri[j], hosts[j]
        if kind[j] == 0:
            raw.append(f"<{p}>1 - {h} app{k % 50:02d} {k % 9999} ID{k % 97}"
                       f" - nil stamp {k}")
        elif kind[j] == 1:
            raw.append(f"<{p}>{MONTHS[month[j]]} {day[j]} {clock[j]} {h} "
                       f"very.long.syslog.message.tag.{k:012d}: "
                       f"'su root' failed {k}")
        else:
            raw.append(f"<{p}>1 {date[j]}T{clock[j]}.003Z {h} evntslog - "
                       f'ID47 [exampleSDID@32473 iut="3" eventSource= '
                       f'"Application" eventID="{k}"] entry {k}')
    rfc = np.where(kind == 1, 1, 2)
    return raw, dict(rfc=rfc, facility=fac, severity=sev,
                     hour=np.where(kind == 0, -1, hour),
                     error=np.zeros(n, bool))


def adversarial_lines(n: int, seed: int) -> Lines:
    """45% canonical lines, 30% slow-path quirk lines and 25% malformed
    lines from every error family; ~60% of the valid rows go to one host
    and the (RFC5424, info) sink key."""
    hot_share = 0.6
    rng = np.random.default_rng([seed, 2])
    n_can, n_q = int(n * 0.45), int(n * 0.30)
    n_err = n - n_can - n_q
    hot_c = rng.random(n_can) < hot_share
    hosts = _host_names(rng, n_can)
    hosts[hot_c] = HOT_HOST
    return _assemble(rng, n, [
        _valid_rows(rng, n_can, 0, hosts=hosts, force_5424_info=hot_c),
        _quirk_rows(rng, n_q, n_can, rng.random(n_q) < hot_share),
        _error_rows(rng, ADVERSARIAL_ERRORS, n_err, n_can + n_q)])


def write_tokens_table(lines: Lines, path: str, n_files: int = 8) -> int:
    """Write the pipeline's input table ``(doc_id, tokens, n_tok, source)``
    as ``n_files`` parquet files: tokens[i] is the code point of raw[i].
    Returns the total parquet bytes."""
    os.makedirs(path, exist_ok=True)
    n = len(lines)
    enc = [s.encode("ascii") for s in lines.raw]
    lens = np.fromiter((len(b) for b in enc), np.int64, n)
    offs = np.zeros(n + 1, np.int32)
    np.cumsum(lens, out=offs[1:])
    flat = np.frombuffer(b"".join(enc), np.uint8).astype(np.int32)
    tokens = pa.ListArray.from_arrays(pa.array(offs), pa.array(flat))
    table = pa.table({
        "doc_id": pa.array([f"d{j:09d}" for j in range(n)]),
        "tokens": tokens,
        "n_tok": pa.array(lens.astype(np.int32)),
        "source": pa.array(lines.labels["source"].tolist(), pa.string()),
    })
    total = 0
    step = -(-n // n_files)
    for f in range(n_files):
        p = os.path.join(path, f"part-{f:03d}.parquet")
        pq.write_table(table.slice(f * step, step), p)
        total += os.path.getsize(p)
    return total


VOCAB = ["spark", "window", "merge", "table", "column", "vector", "stream",
         "value", "data", "small", "join", "filter", "big", "group", "hash",
         "customer", "sort", "order", "slow", "line", "part", "fast", "row",
         "the", "agg", "key", "query", "a", "scan", "batch"]
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]


def corpus_tables(n_docs: int, n_vecs: int, seed: int, dim: int = 64):
    """-> (documents, embeddings) Arrow tables in the sf0.1 schemas."""
    rng = np.random.default_rng([seed, 3])
    vocab = np.array(VOCAB)
    nw = rng.integers(10, 101, n_docs)
    texts = np.array([" ".join(vocab[rng.integers(0, len(vocab), k)])
                      for k in nw], dtype=object)
    # fixed counts of copies, each of a document that is not itself a
    # copy, so the duplicate-graph shape does not vary from seed to seed
    n_near = round(n_docs * 0.05)
    n_exact = max(1, round(n_docs * 0.0016))
    copies = rng.choice(n_docs, n_near + n_exact, replace=False)
    originals = np.setdiff1d(np.arange(n_docs), copies)
    of = rng.choice(originals, len(copies))
    texts[copies[:n_near]] = texts[of[:n_near]] + " dup"
    texts[copies[n_near:]] = texts[of[n_near:]]
    texts = texts.tolist()
    docs = pa.table({
        "doc_id": pa.array(np.arange(n_docs, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(rng.choice(LANGS, n_docs, p=LANG_P).tolist()),
        "source": pa.array([f"src{j % 20}" for j in range(n_docs)]),
        "n_chars": pa.array(np.array([len(t) for t in texts], np.int64)),
    })
    v = rng.standard_normal((n_vecs, dim)).astype(np.float32)
    v /= np.linalg.norm(v, axis=1, keepdims=True)
    emb = pa.table({
        "vec_id": pa.array(np.arange(n_vecs, dtype=np.int64)),
        "embedding": pa.ListArray.from_arrays(
            pa.array(np.arange(0, (n_vecs + 1) * dim, dim, dtype=np.int32)),
            pa.array(v.ravel())),
        "label": pa.array(rng.integers(0, 10, n_vecs).astype(np.int32)),
    })
    return docs, emb


def write_corpus(sf_dir: str, n_docs: int, n_vecs: int, seed: int) -> int:
    """Write documents.parquet + embeddings.parquet; returns their bytes."""
    os.makedirs(sf_dir, exist_ok=True)
    total = 0
    for name, t in zip(("documents", "embeddings"),
                       corpus_tables(n_docs, n_vecs, seed)):
        p = os.path.join(sf_dir, f"{name}.parquet")
        pq.write_table(t, p)
        total += os.path.getsize(p)
    return total
