"""Tests of the benchmark's input generators and expected-value derivation.

    python3 -m unittest discover -s perfbench -p 'test_*.py'
"""
import datetime as dt
import json
import unittest

import gen


def rec(url, ts, status=200, **kw):
    r = {"url": url, "timestamp": ts, "status_code": status}
    r.update(kw)
    return r


class Determinism(unittest.TestCase):
    def test_crawl_log_is_a_function_of_the_seed(self):
        a = gen.crawl_log(7, 2000, 50, 2)
        self.assertEqual(a, gen.crawl_log(7, 2000, 50, 2))
        self.assertNotEqual(a[0], gen.crawl_log(8, 2000, 50, 2)[0])

    def test_spec_feed_is_a_function_of_the_seed(self):
        self.assertEqual(gen.spec_feed(3, 100), gen.spec_feed(3, 100))
        self.assertNotEqual(gen.spec_feed(3, 100), gen.spec_feed(4, 100))

    def test_digest_ignores_order(self):
        self.assertEqual(gen.digest(["a", "b", "c"]), gen.digest(["c", "a", "b"]))
        self.assertNotEqual(gen.digest(["a", "b"]), gen.digest(["a", "a"]))
        self.assertLess(gen.digest(["x"] * 1000), 1 << 64)


class CrawlLogShape(unittest.TestCase):
    @classmethod
    def setUpClass(cls):
        cls.lines, cls.records = gen.crawl_log(1, 20000, 300, 6)

    def test_lines_and_records_align(self):
        for line, r in zip(self.lines, self.records):
            if r is None:
                with self.assertRaises(ValueError):
                    json.loads(line)
            else:
                self.assertEqual(json.loads(line), r)

    def test_fixture_quirks_are_present(self):
        rs = [r for r in self.records if r is not None]
        heritrix = sum("thread" in r for r in rs) / len(rs)
        self.assertAlmostEqual(heritrix, 0.95, delta=0.01)
        self.assertTrue(any(r["url"].startswith("dns:") for r in rs))
        self.assertTrue(any(r["url"].startswith("screenshot:") for r in rs))
        self.assertTrue(any(r["status_code"] < 0 for r in rs))
        self.assertTrue(any(gen.parse_iso(r["timestamp"]) is None for r in rs))
        self.assertTrue(any(r.get("hop_path") == "" for r in rs))
        self.assertTrue(all("extra_info" in r for r in rs if "thread" in r))
        self.assertGreater(len(self.records) - len(rs), 0)

    def test_status_and_last_hop_follow_the_golden_counts(self):
        rs = [r for r in self.records if r is not None]
        http = [r for r in rs if "thread" in r and not r["url"].startswith("dns:")]
        for code, n in gen.STATUS:
            share = sum(r["status_code"] == code for r in http) / len(http)
            self.assertAlmostEqual(share, n / 1000, delta=0.01, msg=code)
        heritrix = [r for r in rs if "thread" in r]
        for hop, n in gen.LAST_HOP:
            share = sum(r["hop_path"][-1:] == hop for r in heritrix) / len(heritrix)
            self.assertAlmostEqual(share, n / 950, delta=0.01, msg=hop)
        self.assertTrue(all(r["status_code"] > 0 for r in rs if "warc_type" in r))

    def test_some_timestamps_arrive_out_of_order(self):
        ts = [gen.parse_iso(r["timestamp"]) for r in self.records if r is not None]
        ts = [t for t in ts if t is not None]
        late = sum(b < a for a, b in zip(ts, ts[1:])) / len(ts)
        self.assertGreater(late, 0.02)
        self.assertLess(late, 0.08)

    def test_hosts_are_skewed(self):
        counts = sorted((s["total"] for s in gen.analyse_expected(self.records).values()),
                        reverse=True)
        self.assertGreater(counts[0], 20 * counts[len(counts) // 2])


class HandCounted(unittest.TestCase):
    RECORDS = [
        rec("http://A.example/1", "2026-03-02T00:10:00.000Z", 200,
            thread=1, mimetype="text/html", via="http://b.example/x"),
        rec("https://a.example/2", "2026-03-02T00:05:00.000Z", -5003,
            thread=2, via="http://a.example/"),
        rec("dns:a.example", "bogus", 1, thread=3, mimetype="text/dns"),
        rec("http://a.example/3?wr", "2026-03-02T01:00:00.000Z", 404,
            content_type="image/jpeg", warc_type="response"),
        rec("screenshot:http://a.example/4", "2026-03-02T00:20:00.000Z", 200,
            warc_type="response"),
        None,
    ]

    def test_analyse_expected(self):
        got = gen.analyse_expected(self.RECORDS)
        self.assertEqual(got, {"a.example": {
            "total": 4,
            "first_ts": "2026-03-02T00:05:00.000Z",
            "last_ts": "2026-03-02T01:00:00.000Z",
            "statusCodes": {"200": 1, "-5003": 1, "1": 1, "404": 1},
            "contentTypes": {"text/html": 1, "unknown-content-type": 1,
                             "text/dns": 1, "image/jpeg": 1},
            "viaHosts": {"b.example": 1}}})

    def test_scale_expected_matches_repeated_records(self):
        rs = self.RECORDS[:5]
        self.assertEqual(gen.scale_expected(gen.analyse_expected(rs), 3),
                         gen.analyse_expected(rs * 3))

    def test_hour_expected(self):
        got = gen.hour_expected(self.RECORDS, gen.EPOCH)
        # hour 0 holds records 1, 2 and the screenshot; the dns record has a
        # bogus timestamp and the 01:00 record belongs to the next hour
        self.assertEqual(got["replayed"], 3)
        self.assertEqual(got["crawl_log"], 2)
        self.assertEqual(got["summary_rows"], 1)
        self.assertEqual(got["summary"], gen.digest(["a.example|2|http://b.example/x"]))
        self.assertEqual(got["solr_ids"], gen.digest(
            f"crawl-log:{r['timestamp']}/{r['url']}" for r in self.RECORDS[:2]
            + [self.RECORDS[4]]))

    def test_due_seeds(self):
        def spec(seeds, start, end="", freq="DAILY"):
            return {"seeds": seeds, "schedules": [
                {"startDate": start, "endDate": end, "frequency": freq}]}
        specs = [
            spec(["http://s1/", "http://s2/"], "2026-01-01 05:00:00"),
            spec([], "2026-01-01 05:00:00"),                            # no seeds
            spec(["http://s3/"], ""),                                   # no start
            spec(["http://s4/"], "2026-01-01 05:30:00", "2026-02-01 00:00:00"),
            spec(["http://s5/"], "2026-01-01 06:00:00"),                # other hour
            spec(["http://s6/"], "2025-12-02 05:00:00", freq="MONTHLY"),
            spec(["http://s7/"], "2025-12-03 05:00:00", freq="MONTHLY"),
            spec(["http://s8/"], "2025-12-02 05:00:00", freq="QUARTERLY"),
            spec(["http://s9/"], "2026-02-23 05:00:00", freq="WEEKLY"),  # a Monday
            spec(["http://s10/"], "2026-01-01 05:00:00", freq="DOMAINCRAWL"),
        ]
        now = gen.EPOCH + dt.timedelta(hours=5)  # Monday 2026-03-02 05:00
        self.assertEqual(gen.due_seeds(specs, now),
                         ["http://s1/", "http://s2/", "http://s6/", "http://s8/",
                          "http://s9/"])


if __name__ == "__main__":
    unittest.main()
