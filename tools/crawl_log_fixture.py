#!/usr/bin/env python3
"""Seeded crawl-log fixture for the parse and report paths.

Writes a union-schema crawl log (FIXTURES.md section 1) and the counts a
correct engine must produce from it:

    python3 tools/crawl_log_fixture.py src/test/resources

creates ``crawl_log_fixture.jsonl`` and ``crawl_log_fixture.expected.json``
in the given directory (``--seed`` and ``--records`` change the draw; the
committed pair uses the defaults). ``CrawlLogFixtureSpec`` reads both.

The log carries the quirks FIXTURES.md section 1 documents: both variants
(Heritrix, marked by ``thread``; WebRender, marked by ``warc_type``),
negative Heritrix status codes, ``dns:`` and ``screenshot:`` URLs, empty
``hop_path`` values, an open ``extra_info`` map and the tagged
``annotations`` string. It adds what a live topic also delivers: lines that
are not JSON, JSON objects that are not crawl events, malformed
timestamps, ``start_time_plus_duration`` without its duration, and
mixed-case hosts. Status codes and last hops are drawn with the golden
weights of the reference's 1,000-record fragment; every other share is an
assumption, sized so that the default draw holds each quirk.

Every expected value is derived here, in plain Python, from the generated
records, following the semantics the reference defines (report.py,
streamer.py) -- never from the engine under test.
"""
import argparse
import datetime as dt
import hashlib
import json
import os
import random
from urllib.parse import urlsplit

START = dt.datetime(2026, 3, 2, tzinfo=dt.timezone.utc)
HOURS = 4
# the replay window StreamerMain.timeRange is checked on: [01:00, 03:00)
RANGE = ("2026-03-02T01:00:00", "2026-03-02T03:00:00")

# FIXTURES.md section 1: the fragment's status histogram and the last hops
# of its Heritrix records ("" is an empty hop path)
STATUS = [(-5003, 838), (200, 128), (301, 11), (303, 9), (-6, 7), (204, 4),
          (-5002, 3)]
LAST_HOP = [("L", 821), ("X", 72), ("E", 31), ("R", 22), ("I", 1), ("", 3)]
HOSTS = ["www.bl.uk", "example.org.uk", "news.example.co.uk",
         "Mixed.Case.AC.uk", "static.gov.uk", "blog.example.com"]
MIMETYPES = ["text/html", "image/png", "application/pdf", "text/css"]
EXTRA_KEYS = ["warcPrefix", "warcFileRecordLength", "contentSize",
              "warcFilename", "warcFileOffset"]


def weighted(rng, pairs):
    return rng.choices([v for v, _ in pairs], weights=[w for _, w in pairs])[0]


def iso_ms(t):
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def parse_iso(s):
    """The instant a ``timestamp`` string parses to, or None."""
    try:
        return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
            tzinfo=dt.timezone.utc)
    except (TypeError, ValueError):
        return None


def host_of(url):
    """P2: ``dns:<host>`` -> host, an http(s) URL -> its host, both
    lower-cased; None otherwise."""
    if url is None:
        return None
    if url.startswith("dns:"):
        return url[4:].lower()
    if url.startswith(("http://", "https://")):
        return urlsplit(url).hostname
    return None


def dash(v):
    """P5: null renders as "-"."""
    return "-" if v is None else str(v)


def annotations(s):
    """P12: the comma-separated tags, trimmed, empties dropped."""
    return [a.strip() for a in (s or "").split(",") if a.strip()]


def with_prefix(s, prefix):
    hits = [a for a in annotations(s) if a.startswith(prefix)]
    return hits[0][len(prefix):] if hits else None


def launch_ts(s):
    """P11: a ``launchTimestamp:yyyyMMddHHmmss`` tag as ISO, or None."""
    v = with_prefix(s, "launchTimestamp:")
    try:
        t = dt.datetime.strptime(v, "%Y%m%d%H%M%S")
    except (TypeError, ValueError):
        return None
    return t.strftime("%Y-%m-%dT%H:%M:%SZ")


def sha1_lines(lines):
    """Order-independent digest of a set of text lines."""
    return hashlib.sha1("\n".join(sorted(lines)).encode("utf-8")).hexdigest()


def record(rng, i, t):
    host = rng.choice(HOSTS)
    stamp = iso_ms(t) if rng.random() >= 0.02 else f"not-a-time-{i}"
    rec = {
        "host": host,
        "content_digest": "sha1:" + hashlib.sha1(f"{i}".encode()).hexdigest()[:32].upper(),
        "content_length": rng.randrange(100, 100000),
        "warc_filename": f"BL-fixture-{i // 100:03d}.warc.gz",
        "warc_offset": rng.randrange(0, 10 ** 8),
        "timestamp": stamp,
    }
    if rng.random() < 0.25:
        st = t.strftime("%Y%m%d%H%M%S") + f"{t.microsecond // 1000:03d}"
        rec["start_time_plus_duration"] = (
            st + f"+{rng.randrange(1, 5000)}" if rng.random() >= 0.2 else st)
    if rng.random() < 0.9:  # Heritrix
        r = rng.random()
        if r < 0.05:
            url, status, mime = f"dns:{host}", 1, "text/dns"
        else:
            url = f"{'https' if r < 0.5 else 'http'}://{host}/p/{i}"
            status, mime = weighted(rng, STATUS), rng.choice(MIMETYPES)
        v = rng.random()  # another host, the same host, "", none
        via = (f"http://{rng.choice(HOSTS)}/p/{rng.randrange(i + 1)}" if v < 0.6
               else f"http://{host}/" if v < 0.8 else "" if v < 0.9 else None)
        tags = [f"ip:10.0.{rng.randrange(256)}.{rng.randrange(256)}"] \
            if rng.random() < 0.8 else []
        if rng.random() < 0.4:
            tags.append("launchTimestamp:" + (
                f"20260301{rng.randrange(24):02d}{rng.randrange(60):02d}00"
                if rng.random() >= 0.1 else "yesterday"))
        if rng.random() < 0.3:
            tags.append(f"dol:{rng.randrange(10)}")
        if rng.random() < 0.2:
            tags.append(f"{rng.randrange(1, 4)}t")
        if rng.random() < 0.1:
            tags.append(" duplicate:digest ")
        last = weighted(rng, LAST_HOP) if rng.random() >= 0.03 else ""
        extra = {"scopeDecision": "ACCEPT by rule #2"}
        for k in rng.sample(EXTRA_KEYS, rng.randrange(len(EXTRA_KEYS) + 1)):
            extra[k] = str(rng.randrange(1, 10 ** 6))
        rec.update(url=url, status_code=status, thread=rng.randrange(200),
                   hop_path="L" * rng.randrange(3) + last if last else "",
                   seed=(f"tid:{rng.randrange(1000)}:http://{host}/"
                         if rng.random() < 0.7 else ""),
                   via=via, crawl_name="frequent",
                   size=rng.randrange(100, 100000), mimetype=mime,
                   annotations=",".join(tags), extra_info=extra)
    else:  # WebRender; a third are screenshots
        url = (f"screenshot:http://{host}/p/{i}" if rng.random() < 0.33
               else f"http://{host}/p/{i}?wr")
        rec.update(url=url, status_code=weighted(rng, [s for s in STATUS if s[0] > 0]),
                   http_method="GET", wire_bytes=rng.randrange(100, 10 ** 6),
                   content_type="text/html; charset=utf-8",
                   warc_length=rng.randrange(100, 10 ** 6),
                   warc_content_type="application/http; msgtype=response",
                   warc_type="response",
                   warc_id=f"<urn:uuid:00000000-0000-0000-0000-{i:012x}>",
                   annotations="WebRenderThis")
    return {k: v for k, v in rec.items() if v is not None}


def generate(seed, n):
    """Returns the log's lines and, aligned with them, each line's record
    (None for a line that is not JSON)."""
    rng = random.Random(seed)
    span_ms = HOURS * 3600 * 1000
    lines, records = [], []
    for i in range(n):
        u = rng.random()
        if u < 0.015:
            lines.append(f"not json {i} {{")
            records.append(None)
            continue
        if u < 0.025:  # JSON, but not a crawl event
            rec = {"heartbeat": i}
        else:
            t = START + dt.timedelta(milliseconds=i * span_ms // n + rng.randrange(1000))
            if rng.random() < 0.05:  # out of order
                t = max(START, t - dt.timedelta(minutes=rng.randrange(1, 45)))
            rec = record(rng, i, t)
        lines.append(json.dumps(rec, separators=(",", ":")))
        records.append(rec)
    # two events exactly on the replay window's edges: the start is
    # inclusive, the end exclusive
    for i, edge in enumerate(RANGE):
        t = dt.datetime.fromisoformat(edge).replace(tzinfo=dt.timezone.utc)
        rec = record(random.Random(seed * 31 + i), n + i, t)
        rec["timestamp"] = iso_ms(t)
        lines.append(json.dumps(rec, separators=(",", ":")))
        records.append(rec)
    return lines, records


def crawl_log_line(r):
    """P6: the reference's fixed-width crawl-log line."""
    return "%s %6s %10s %s %s %s %s #%s %s %s %s %s" % tuple(dash(r.get(k)) for k in (
        "timestamp", "status_code", "size", "url", "hop_path", "via",
        "mimetype", "thread", "start_time_plus_duration", "content_digest",
        "seed", "annotations"))


def expected(lines, records):
    recs = [r for r in records if r is not None]
    events = [r for r in recs if "url" in r or "status_code" in r]
    heritrix = [r for r in events if "thread" in r]

    def hist(values):
        out = {}
        for v in values:
            out[str(v)] = out.get(str(v), 0) + 1
        return out

    lo, hi = (dt.datetime.fromisoformat(s).replace(tzinfo=dt.timezone.utc) for s in RANGE)
    in_range = [ln for ln, r in zip(lines, records) if r is not None
                and parse_iso(r.get("timestamp")) is not None
                and lo <= parse_iso(r["timestamp"]) < hi]

    # A5: per http(s) host, the total and the via of the first record (by
    # event time, an unparseable time first, then url) whose via host is
    # another host
    summary = {}
    for r in events:
        if not r["url"].startswith("http"):
            continue
        h = host_of(r["url"])
        s = summary.setdefault(h, {"tot": 0, "first": None})
        s["tot"] += 1
        via = r.get("via")
        vh = urlsplit(via).hostname if via else None
        if vh is not None and vh != h:
            t = parse_iso(r["timestamp"])
            key = (t is not None, t or START, r["url"])
            if s["first"] is None or key < s["first"][0]:
                s["first"] = (key, via)

    st = [r["start_time_plus_duration"] for r in events if "start_time_plus_duration" in r]
    return {
        "lines": len(lines),
        "parse": {
            "rows": len(lines),
            "malformed": len(lines) - len(events),
            "event_ts_null": len(lines) - sum(
                1 for r in events if parse_iso(r.get("timestamp")) is not None),
        },
        "variants": {"heritrix": len(heritrix),
                     "webrender": sum(1 for r in events if "warc_type" in r)},
        "status": hist(r["status_code"] for r in events),
        "last_hop": hist((r["hop_path"] or "_")[-1] for r in heritrix),
        "extra_info_keys": hist(k for r in heritrix for k in r["extra_info"]),
        "urls": {"dns": sum(1 for r in events if r["url"].startswith("dns:")),
                 "screenshot": sum(1 for r in events if r["url"].startswith("screenshot:")),
                 "http": sum(1 for r in events if r["url"].startswith("http"))},
        "start_time": {"present": len(st),
                       "with_duration": sum(1 for s in st if "+" in s)},
        "time_range": {"start": RANGE[0], "end": RANGE[1], "count": len(in_range),
                       "sha1": sha1_lines(in_range)},
        "report": {
            "raw": len(lines),
            "crawl_log": {"count": len(heritrix),
                          "sha1": sha1_lines(crawl_log_line(r) for r in heritrix)},
            "summary": {h: {"tot": s["tot"], "via": s["first"][1] if s["first"] else "-"}
                        for h, s in sorted(summary.items())},
            "solr": {
                "count": len(events),
                "crawler": {"Heritrix": len(heritrix),
                            "WebRender": len(events) - len(heritrix)},
                "ip": sum(1 for r in events if with_prefix(r.get("annotations"), "ip:")),
                "dol": sum(1 for r in events if with_prefix(r.get("annotations"), "dol:")),
                "launch_timestamp": sum(1 for r in events if launch_ts(r.get("annotations"))),
                "tags_kept": sum(1 for r in events for a in annotations(r.get("annotations"))
                                 if not a.startswith(("ip:", "launchTimestamp:", "dol:"))),
                "start_time": len(st),
                "duration": sum(1 for s in st if "+" in s),
                "id_sha1": sha1_lines(f"crawl-log:{r['timestamp']}/{r['url']}" for r in events),
            },
        },
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("out_dir")
    ap.add_argument("--seed", type=int, default=9)
    ap.add_argument("--records", type=int, default=400)
    a = ap.parse_args()
    lines, records = generate(a.seed, a.records)
    os.makedirs(a.out_dir, exist_ok=True)
    with open(os.path.join(a.out_dir, "crawl_log_fixture.jsonl"), "w") as f:
        f.write("\n".join(lines) + "\n")
    with open(os.path.join(a.out_dir, "crawl_log_fixture.expected.json"), "w") as f:
        json.dump(expected(lines, records), f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    main()
