"""Seeded input generators for the crawl-services benchmark.

Every generator is a pure function of its seed, and every expected value
the benchmark checks is derived here, in plain Python, from the generated
records -- never from the engine under test.

* ``crawl_log``: a union-schema crawl log (FIXTURES.md section 1) with
  Zipf-skewed hosts, ~5 % out-of-order timestamps, a 950/50
  Heritrix/WebRender mix, negative status codes, ``dns:`` and
  ``screenshot:`` URLs, a few malformed timestamps and a few lines that are
  not JSON at all. Its status codes and last hops follow the golden counts
  FIXTURES.md section 1 gives for 1,000 real records; every other figure
  (host count, skew, mimetype mix, event rate, the shares of ``dns:``,
  ``screenshot:``, malformed and late records) is an assumption, marked
  where it is set.
* ``spec_feed``: a crawl-spec feed (FIXTURES.md section 3) whose schedules
  fall due at different hours of the crawl day.
"""
import datetime as dt
import hashlib
import json
import random
from urllib.parse import urlsplit

EPOCH = dt.datetime(2026, 3, 2, tzinfo=dt.timezone.utc)
MASK64 = (1 << 64) - 1


def h64(s):
    """First 8 bytes of SHA-1, big-endian -- the digest term the harness
    sums on its side (``Digest.h64``)."""
    return int.from_bytes(hashlib.sha1(s.encode("utf-8")).digest()[:8], "big")


def digest(strings):
    """Order-independent multiset digest: the sum of ``h64`` modulo 2**64."""
    return sum(h64(s) for s in strings) & MASK64


def iso_ms(t):
    return t.strftime("%Y-%m-%dT%H:%M:%S.") + f"{t.microsecond // 1000:03d}Z"


def parse_iso(s):
    """The event time a record's ``timestamp`` parses to, or None."""
    try:
        return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
            tzinfo=dt.timezone.utc)
    except (TypeError, ValueError):
        return None


def host_of(url):
    """``CrawlCols.hostOf`` for the URL shapes the generator emits:
    ``dns:<host>`` -> host; http(s) -> lower-cased host; anything else
    (``screenshot:...``) -> None."""
    if url is None:
        return None
    if url.startswith("dns:"):
        return url[4:].lower()
    if url.startswith("http://") or url.startswith("https://"):
        return urlsplit(url).hostname
    return None


def via_host(via):
    """``java.net.URI(via).getHost`` lower-cased, "" when absent."""
    if not via:
        return ""
    return urlsplit(via).hostname or ""


# --------------------------------------------------------------------------
# crawl log

# FIXTURES.md section 1, golden counts of the 1,000-record fragment: the
# status histogram over all records, and the last hop of the 950 Heritrix
# records (the 3 without one have an empty hop path). The fragment does not
# split the histogram by variant; WebRender records, which are fetched
# responses, draw from its positive codes.
STATUS = [(-5003, 838), (200, 128), (301, 11), (303, 9), (-6, 7), (204, 4),
          (-5002, 3)]
WEBRENDER_STATUS = [(c, w) for c, w in STATUS if c > 0]
LAST_HOP = [("L", 821), ("X", 72), ("E", 31), ("R", 22), ("I", 1), ("", 3)]
# Assumptions, not measured: a uniform mimetype / content-type draw, hop
# paths of 0-3 "L" hops before the last hop, and dns: lookups (logged with
# Heritrix's status 1, which the fragment does not show) at 3 % of Heritrix
# records.
MIMETYPES = ["text/html", "image/png", "application/pdf", "text/css",
             "application/javascript", "unknown"]
CONTENT_TYPES = ["text/html; charset=utf-8", "image/jpeg", "application/json"]
DNS_SHARE = 0.03


def _weighted(rng, pairs):
    return rng.choices([v for v, _ in pairs], weights=[w for _, w in pairs])[0]


def _hop_path(rng):
    last = _weighted(rng, LAST_HOP)
    return "L" * rng.randrange(4) + last if last else ""


def hosts(n):
    tlds = ["org.uk", "co.uk", "ac.uk", "gov.uk", "com"]
    return [f"h{i:03d}.site{i % 7}.{tlds[i % len(tlds)]}" for i in range(n)]


def crawl_log(seed, n_events, n_hosts, hours):
    """Returns ``(lines, records)``: one JSONL line per event and, aligned
    with it, the record dict (None for a line that is not JSON). Events are
    spread evenly over ``hours``; the caller's ``n_events / hours`` rate and
    ``n_hosts`` are sized for the run length, not taken from a real crawl.
    Hosts are Zipf-skewed with exponent 1.1 (an assumption)."""
    rng = random.Random(seed)
    hs = hosts(n_hosts)
    weights = [1.0 / (i + 1) ** 1.1 for i in range(n_hosts)]
    span_ms = hours * 3600 * 1000
    lines, records = [], []
    for i in range(n_events):
        if rng.random() < 0.002:  # assumed share of lines that are not JSON
            lines.append(f"not json {i} {{")
            records.append(None)
            continue
        host = rng.choices(hs, weights=weights)[0]
        t = EPOCH + dt.timedelta(milliseconds=i * span_ms // n_events
                                 + rng.randrange(1000))
        if rng.random() < 0.05:  # out of order, possibly into an earlier hour
            t -= dt.timedelta(minutes=rng.randrange(1, 45))
        t = max(t, EPOCH)
        # assumed 0.3 % of timestamps malformed
        ts = iso_ms(t) if rng.random() >= 0.003 else f"bogus-ts-{i}"
        digest_s = "sha1:" + hashlib.sha1(f"{seed}/{i}".encode()).hexdigest()[:32].upper()
        common = {
            "host": host,
            "content_digest": digest_s,
            "content_length": rng.randrange(100, 200000),
            "start_time_plus_duration":
                t.strftime("%Y%m%d%H%M%S") + f"{t.microsecond // 1000:03d}"
                + f"+{rng.randrange(1, 5000)}",
            "warc_filename": f"BL-{seed}-{i // 1000:05d}.warc.gz",
            "warc_offset": rng.randrange(0, 10 ** 9),
            "timestamp": ts,
        }
        if rng.random() < 0.95:  # Heritrix, 950 of the fragment's 1,000
            r = rng.random()
            if r < DNS_SHARE:
                url, status, mime = f"dns:{host}", 1, "text/dns"
            else:
                scheme = "https" if r < 0.5 else "http"
                url = f"{scheme}://{host}/p/{i}"
                status = _weighted(rng, STATUS)
                mime = rng.choice(MIMETYPES) if rng.random() >= 0.05 else None
            v = rng.random()  # assumed via mix: another host, same host, "", none
            if v < 0.7:
                via = f"http://{rng.choices(hs, weights=weights)[0]}/p/{rng.randrange(i + 1)}"
            elif v < 0.9:
                via = f"http://{host}/"
            elif v < 0.95:
                via = ""
            else:
                via = None
            ann = [f"ip:10.{rng.randrange(256)}.{rng.randrange(256)}.{rng.randrange(256)}"]
            if rng.random() < 0.5:
                ann.append("launchTimestamp:20260301" + f"{rng.randrange(24):02d}0000")
            if rng.random() < 0.3:
                ann.append(f"dol:{rng.randrange(10)}")
            if rng.random() < 0.2:
                ann.append(f"{rng.randrange(1, 4)}t")
            if rng.random() < 0.1:
                ann.append("duplicate:digest")
            rec = dict(url=url, status_code=status, **common,
                       thread=rng.randrange(200),
                       hop_path=_hop_path(rng),
                       seed=(f"tid:{rng.randrange(1000)}:http://{host}/"
                             if rng.random() < 0.8 else ""),
                       via=via, crawl_name="frequent",
                       size=rng.randrange(100, 200000), mimetype=mime,
                       annotations=",".join(ann),
                       extra_info={"scopeDecision": "ACCEPT by rule #2",
                                   "warcPrefix": "BL",
                                   "contentSize": str(rng.randrange(1, 10 ** 6))})
        else:  # WebRender; an assumed 30 % of its records are screenshots
            url = (f"screenshot:http://{host}/p/{i}" if rng.random() < 0.3
                   else f"http://{host}/p/{i}?wr")
            rec = dict(url=url, status_code=_weighted(rng, WEBRENDER_STATUS),
                       **common, http_method="GET",
                       wire_bytes=rng.randrange(100, 10 ** 6),
                       content_type=rng.choice(CONTENT_TYPES),
                       warc_length=rng.randrange(100, 10 ** 6),
                       warc_content_type="application/http; msgtype=response",
                       warc_type="response",
                       warc_id=f"<urn:uuid:{seed:08x}-0000-0000-0000-{i:012x}>",
                       annotations="WebRenderThis")
        rec = {k: v for k, v in rec.items() if v is not None}
        lines.append(json.dumps(rec, separators=(",", ":")))
        records.append(rec)
    return lines, records


def analyse_expected(records):
    """Per-host rolling stats as ``AnalysisStream.hostStats`` defines them:
    total, status-code / content-type / via-host maps, and first/last event
    time (records whose timestamp does not parse still count)."""
    out = {}
    for r in records:
        if r is None:
            continue
        h = host_of(r["url"])
        if not h:
            continue
        s = out.setdefault(h, {"total": 0, "first_ts": None, "last_ts": None,
                               "statusCodes": {}, "contentTypes": {},
                               "viaHosts": {}})
        s["total"] += 1
        sc = str(r["status_code"]) if "status_code" in r else "-"
        s["statusCodes"][sc] = s["statusCodes"].get(sc, 0) + 1
        ct = r.get("mimetype") or r.get("content_type") or "unknown-content-type"
        s["contentTypes"][ct] = s["contentTypes"].get(ct, 0) + 1
        vh = via_host(r.get("via"))
        if vh and vh != h:
            s["viaHosts"][vh] = s["viaHosts"].get(vh, 0) + 1
        t = parse_iso(r["timestamp"])
        if t is not None:
            ts = iso_ms(t)
            s["first_ts"] = ts if s["first_ts"] is None else min(s["first_ts"], ts)
            s["last_ts"] = ts if s["last_ts"] is None else max(s["last_ts"], ts)
    return out


def scale_expected(expected, k):
    """``analyse_expected`` of ``k`` copies of the same records: counts
    scale by ``k``, first and last event times stay."""
    def times(m):
        return {key: v * k for key, v in m.items()}
    return {h: dict(s, total=s["total"] * k, statusCodes=times(s["statusCodes"]),
                    contentTypes=times(s["contentTypes"]), viaHosts=times(s["viaHosts"]))
            for h, s in expected.items()}


# --------------------------------------------------------------------------
# crawl-spec feed and the launcher's due rows

FREQUENCIES = [("DAILY", 50), ("WEEKLY", 15), ("MONTHLY", 10),
               ("QUARTERLY", 5), ("SIXMONTHLY", 5), ("ANNUAL", 5),
               ("DOMAINCRAWL", 5), ("NEVERISH", 5)]


def spec_feed(seed, n_specs):
    rng = random.Random(seed * 7919 + 1)
    specs = []
    for i in range(n_specs):
        n_seeds = 0 if rng.random() < 0.03 else rng.randrange(1, 4)
        seeds = []
        for j in range(n_seeds):
            if rng.random() < 0.02:
                seeds.append(f"https://twitter.com/user{i}_{j}")
            else:
                seeds.append(f"http://www.target{i}-{j}.org.uk/")
        schedules = []
        for _ in range(rng.randrange(1, 3)):
            start = EPOCH - dt.timedelta(days=rng.randrange(1, 400))
            start = start.replace(hour=rng.randrange(24),
                                  minute=rng.choice([0, 0, 0, 30]))
            sd = start.strftime("%Y-%m-%d %H:%M:%S")
            if rng.random() < 0.05:
                sd = ""
            e = rng.random()
            if e < 0.6:
                ed = ""
            elif e < 0.8:
                ed = (EPOCH - dt.timedelta(days=rng.randrange(0, 30))).strftime(
                    "%Y-%m-%d %H:%M:%S")
            else:
                ed = (EPOCH + dt.timedelta(days=rng.randrange(1, 30))).strftime(
                    "%Y-%m-%d %H:%M:%S")
            schedules.append({"startDate": sd, "endDate": ed,
                              "frequency": _weighted(rng, FREQUENCIES)})
        specs.append({
            "id": i, "title": f"Target {i}", "seeds": seeds,
            "depth": rng.choice(["CAPPED", "CAPPED_LARGE", "DEEP"]),
            "scope": rng.choice(["subdomains", "plus1Scope", "root"]),
            "ignoreRobotsTxt": rng.random() < 0.2,
            "schedules": schedules, "watched": rng.random() < 0.1,
            "documentUrlScheme": None, "loginPageUrl": "", "logoutUrl": "",
            "secretId": ""})
    return specs


def _spec_ts(s):
    try:
        return dt.datetime.strptime(s, "%Y-%m-%d %H:%M:%S").replace(
            tzinfo=dt.timezone.utc)
    except (TypeError, ValueError):
        return None


def _dow(t):  # Spark dayofweek: Sunday = 1
    return (t.weekday() + 1) % 7 + 1


def schedule_due(now, sched):
    sd, ed = _spec_ts(sched["startDate"]), _spec_ts(sched["endDate"])
    if sd is None or now < sd or (ed is not None and now > ed):
        return False
    f, day = sched["frequency"], now.day == sd.day
    ok = {"DAILY": True,
          "WEEKLY": _dow(now) == _dow(sd),
          "MONTHLY": day,
          "QUARTERLY": day and now.month % 3 == sd.month % 3,
          "SIXMONTHLY": day and now.month % 6 == sd.month % 6,
          "ANNUAL": day and now.month == sd.month}.get(f, False)
    return ok and now.hour == sd.hour


def due_seeds(specs, now):
    """One entry per due (target, schedule, seed) -- the launcher's rows."""
    return [seed for s in specs if s["seeds"]
            for sched in s["schedules"] if schedule_due(now, sched)
            for seed in s["seeds"]]


# --------------------------------------------------------------------------
# one replayed crawl hour, as the report job renders it


def hour_expected(records, start):
    end = start + dt.timedelta(hours=1)
    rows = [r for r in records if r is not None
            and (t := parse_iso(r["timestamp"])) is not None and start <= t < end]
    summary = {}
    for r in rows:
        h = host_of(r["url"]) if r["url"].startswith("http") else None
        if h is None:
            continue
        tot, best = summary.get(h, (0, None))
        v = r.get("via")
        vh = host_of(v) if v else None
        if v is not None and vh and vh != h:
            key = (parse_iso(r["timestamp"]), r["url"])
            if best is None or key < best[0]:
                best = (key, v)
        summary[h] = (tot + 1, best)
    return {
        "replayed": len(rows),
        "crawl_log": sum(1 for r in rows if "thread" in r),
        "summary": digest(f"{h}|{tot}|{best[1] if best else '-'}"
                          for h, (tot, best) in summary.items()),
        "summary_rows": len(summary),
        "solr_docs": len(rows),
        "solr_ids": digest(f"crawl-log:{r['timestamp']}/{r['url']}" for r in rows),
    }
