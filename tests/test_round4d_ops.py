"""Round-4d operators: connected components (large-star/small-star),
WARC round-trip parsing, SURT canonicalization, politeness-gap audit,
soft-404 detection, content-drift simhash.

Cross-engine value agreement is covered by the DuckDB oracles
(tools/check_oracles.py); these pin what the oracle cannot see —
convergence behavior, plan shape, and Python-reference parity.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from edgar_crawler_spark.operators.components import alternating_cc
from edgar_crawler_spark.queries import QUERIES, _cc_edges

SF_SMALL = "/root/testdata/sf0.001"


def _union_find(edges):
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v in edges:
        ru, rv = find(u), find(v)
        if ru != rv:
            parent[max(ru, rv)] = min(ru, rv)
    return {x: find(x) for x in parent}


class TestConnectedComponents:
    def test_matches_python_union_find(self, spark):
        edges_df = _cc_edges(spark, SF_SMALL)
        edges = [(r.u, r.v) for r in edges_df.collect()]
        want = _union_find(edges)
        labels, rounds = alternating_cc(edges_df)
        got = {r.node: r.label for r in labels.collect()}
        assert got == want
        assert rounds <= 8, rounds  # O(log^2 n) on this forest

    def test_chain_converges_in_log_rounds(self, spark):
        """A 64-link chain is the worst case for min-label flooding
        (64 rounds); the alternating algorithm must collapse it in
        O(log^2 n) — the claim that makes it the scale pick."""
        chain = spark.range(64).select(
            F.col("id").alias("u"), (F.col("id") + 1).alias("v")
        )
        labels, rounds = alternating_cc(chain)
        rows = labels.collect()
        assert {r.label for r in rows} == {0}
        assert len(rows) == 65
        assert rounds <= 8, rounds

    def test_label_is_component_min_and_deterministic(self, spark):
        edges_df = _cc_edges(spark, SF_SMALL)
        a, _ = alternating_cc(edges_df)
        b, _ = alternating_cc(edges_df)
        ra = sorted((r.node, r.label) for r in a.collect())
        rb = sorted((r.node, r.label) for r in b.collect())
        assert ra == rb
        assert all(lbl <= n for n, lbl in ra)

    def test_query_components_partition_nodes(self, spark):
        out = QUERIES["connected_components"].fn(spark, SF_SMALL).collect()
        edges_df = _cc_edges(spark, SF_SMALL)
        n_nodes = (
            edges_df.select(F.col("u").alias("n"))
            .union(edges_df.select("v"))
            .distinct()
            .count()
        )
        assert sum(r.n_nodes for r in out) == n_nodes
        assert all(r.component <= r.max_node for r in out)


class TestWarcFraming:
    """Byte-level WARC framing, independent of Spark."""

    def _record(self, url, date, payload: bytes) -> bytes:
        head = (
            f"WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: {url}"
            f"\r\nWARC-Date: {date}\r\nContent-Length: {len(payload)}"
            "\r\n\r\n"
        ).encode()
        return head + payload + b"\r\n\r\n"

    def test_payload_with_embedded_blank_lines(self):
        """Content-Length-driven slicing: a payload containing the
        record separator bytes must NOT split the record."""
        from edgar_crawler_spark.sources.warc import parse_warc_records

        p1 = b"hello\r\n\r\nWARC/1.0\r\n\r\nworld"  # adversarial bytes
        p2 = b"plain"
        blob = self._record("http://a/1", "d1", p1) + self._record(
            "http://a/2", "d2", p2
        )
        got = parse_warc_records(blob)
        assert [(u, c) for u, _, c, _ in got] == [
            ("http://a/1", len(p1)), ("http://a/2", len(p2)),
        ]
        import hashlib

        assert got[0][3] == hashlib.md5(p1).hexdigest()

    def test_truncated_and_bad_version_raise(self):
        from edgar_crawler_spark.sources.warc import parse_warc_records

        ok = self._record("http://a/1", "d", b"xyz")
        with pytest.raises(ValueError, match="truncated"):
            parse_warc_records(ok[:-6])  # cut into the payload
        with pytest.raises(ValueError, match="version"):
            parse_warc_records(b"HTTP/1.1 200 OK\r\n\r\n")

    def test_roundtrip_query_covers_every_doc(self, spark):
        out = QUERIES["warc_parse_roundtrip"].fn(spark, SF_SMALL)
        rows = out.collect()
        n_docs = (
            spark.read.parquet(f"{SF_SMALL}/documents.parquet").count()
        )
        assert len(rows) == n_docs
        assert len({r.url for r in rows}) == n_docs


class TestUrlSurt:
    def test_matches_python_reference(self, spark):
        rows = QUERIES["url_surt"].fn(spark, SF_SMALL).collect()
        assert rows
        for r in rows:
            rest = r.url.split("://", 1)[1]
            host, _, path = rest.partition("/")
            want = ",".join(reversed(host.split("."))) + ")/" + path
            assert r.surt == want, (r.url, r.surt, want)
        # domain-contiguity: sorting by surt groups every subdomain of
        # a site next to its parent domain
        surts = sorted(r.surt for r in rows)
        sites = [s.split(")", 1)[0] for s in surts]
        # each reversed-host key's occurrences are contiguous
        seen, prev = set(), None
        for s in sites:
            if s != prev:
                assert s not in seen, f"non-contiguous surt block: {s}"
                seen.add(s)
            prev = s


class TestHostGapCompliance:
    def test_gap_algebra(self, spark):
        rows = QUERIES["host_gap_compliance"].fn(spark, SF_SMALL).collect()
        assert rows
        for r in rows:
            assert r.n_gaps == r.n_fetches - 1
            assert r.n_violations <= r.n_gaps
            if r.n_gaps:
                assert r.min_gap_us * r.n_gaps <= r.sum_gap_us


class TestSoft404:
    def test_flags_exactly_the_injected_templates(self, spark):
        rows = QUERIES["soft404_detect"].fn(spark, SF_SMALL).collect()
        by_id = {r.doc_id: r for r in rows}
        docs = spark.read.parquet(
            f"{SF_SMALL}/documents.parquet"
        ).select("doc_id").collect()
        for d in docs:
            i = d.doc_id
            if i % 13 == 0:
                assert by_id[i].signal == "404 not found"
            elif i % 17 == 0:
                assert by_id[i].signal == "no longer available"
            elif i in by_id:  # healthy page flagged → must be short
                assert by_id[i].is_short and by_id[i].signal == ""


class TestContentDrift:
    def test_matches_python_fold_over_spark_simhashes(self, spark):
        """Independent recomputation of the window+agg from the
        operator's own simhash values."""
        from edgar_crawler_spark.operators.dedup import simhash16

        sh = {
            r.doc_id: r.simhash
            for r in simhash16(
                spark.read.parquet(f"{SF_SMALL}/documents.parquet"),
                max_tokens=4096,
            ).collect()
        }
        groups: dict[int, list[int]] = {}
        for doc_id in sorted(sh):
            groups.setdefault(doc_id % 97, []).append(sh[doc_id])
        want = {}
        for url_id, hs in groups.items():
            hams = [
                bin(a ^ b).count("1") for a, b in zip(hs, hs[1:])
            ]
            want[url_id] = (
                len(hs),
                sum(hams),
                max(hams) if hams else None,
                sum(1 for h in hams if h >= 4),
            )
        got = {
            r.url_id: (r.n_snapshots, r.drift_total, r.drift_max,
                       r.n_big_changes)
            for r in QUERIES["content_drift_simhash"]
            .fn(spark, SF_SMALL).collect()
        }
        assert got == want


class TestChunkDedupRewrite:
    def test_matches_python_rewrite(self, spark):
        """Full python mirror of the first-occurrence-wins rewrite,
        including the rebuilt-text md5."""
        import hashlib
        import re as _re

        docs = {
            r.doc_id: r.text
            for r in spark.read.parquet(
                f"{SF_SMALL}/documents.parquet"
            ).collect()
        }
        N = 10
        chunks = []  # (doc_id, pos, chunk)
        for doc_id in sorted(docs):
            w = [t for t in _re.split(r"\s+", docs[doc_id].lower()) if t]
            for pos in range(0, (len(w) + N - 1) // N):
                chunks.append(
                    (doc_id, pos, " ".join(w[pos * N : pos * N + N]))
                )
        seen: set[str] = set()
        keep: dict[tuple, bool] = {}
        for doc_id, pos, c in chunks:  # already (doc_id, pos) ordered
            if c in seen:
                keep[(doc_id, pos)] = False
            else:
                seen.add(c)
                keep[(doc_id, pos)] = True
        want = {}
        for doc_id in sorted(docs):
            mine = [
                (pos, c) for d, pos, c in chunks if d == doc_id
            ]
            kept = [c for pos, c in mine if keep[(doc_id, pos)]]
            want[doc_id] = (
                len(mine),
                len(kept),
                hashlib.md5(" ".join(kept).encode()).hexdigest(),
            )
        got = {
            r.doc_id: (r.n_chunks, r.n_kept, r.cleaned_md5)
            for r in QUERIES["chunk_dedup_rewrite"]
            .fn(spark, SF_SMALL).collect()
        }
        assert got == want
        # the rewrite must actually remove something on this corpus
        assert any(k < n for n, k, _ in want.values())


class TestCcEdgeCases:
    def test_empty_edge_set(self, spark):
        empty = spark.range(0).select(
            F.col("id").alias("u"), F.col("id").alias("v")
        )
        labels, rounds = alternating_cc(empty)
        assert labels.count() == 0
        assert rounds == 1

    def test_self_loops_only(self, spark):
        loops = spark.range(5).select(
            F.col("id").alias("u"), F.col("id").alias("v")
        )
        labels, _ = alternating_cc(loops)
        # self-loops are dropped; no endpoints survive -> empty result
        assert labels.count() == 0

    def test_star_is_fixpoint(self, spark):
        star = spark.createDataFrame(
            [(i, 0) for i in range(1, 9)], "u long, v long"
        )
        labels, rounds = alternating_cc(star)
        assert rounds == 1  # already a rooted star: first probe stable
        assert {(r.node, r.label) for r in labels.collect()} == {
            (i, 0) for i in range(9)
        }


class TestRobotsRulesParse:
    def test_matches_python_line_parser(self, spark):
        """Independent python implementation of the grouped-line
        format over the same synthesized corpus."""
        rows = QUERIES["robots_rules_parse"].fn(spark, SF_SMALL).collect()
        hosts = {r.host for r in rows}
        want = []
        for h in hosts:
            lines = [
                "User-agent: *",
                "Disallow: /admin/",
                "Allow: /p/" if h % 2 == 0 else "Disallow: /tmp/",
                f"Crawl-delay: {h % 7 + 1}",
                f"User-agent: bot{h % 3}",
                "Disallow: /",
                "Allow: /public/" if h % 3 == 0 else "",
                f"Sitemap: https://site{h}.example/sitemap.xml",
            ]
            agent = None
            for i, ln in enumerate(lines):
                if not ln:
                    continue
                d, _, v = ln.partition(":")
                d, v = d.lower(), v.strip()
                if d == "user-agent":
                    agent = v
                elif d == "sitemap":
                    want.append((h, "", d, v, i))
                else:
                    want.append((h, agent, d, v, i))
        got = [
            (r.host, r.agent, r.directive, r.value, r.line_no)
            for r in rows
        ]
        assert sorted(got) == sorted(want)
        # every host yields both agent groups + a host-wide sitemap
        for h in hosts:
            agents = {a for hh, a, *_ in want if hh == h}
            assert {"*", f"bot{h % 3}", ""} == agents


class TestStratifiedWeightedSample:
    def test_python_mirror_and_per_stratum_quota(self, spark):
        import hashlib
        import math

        docs = [
            (r.doc_id, r.source, r.n_chars)
            for r in spark.read.parquet(
                f"{SF_SMALL}/documents.parquet"
            ).collect()
            if r.n_chars > 0
        ]
        keyed = []
        for doc_id, source, w in docs:
            h = int(
                hashlib.md5(f"sws|{doc_id}".encode()).hexdigest()[:15], 16
            )
            u = (h + 1) / float(1 << 60)
            keyed.append((source, round(math.log(u) / w, 10), doc_id, w))
        want = set()
        by_src: dict[str, list] = {}
        for source, key, doc_id, w in keyed:
            by_src.setdefault(source, []).append((key, doc_id, w))
        for source, items in by_src.items():
            items.sort(key=lambda t: (-t[0], t[1]))
            for rn, (key, doc_id, w) in enumerate(items[:10], start=1):
                want.add((source, doc_id, w, key, rn))
        got = {
            (r.source, r.doc_id, r.weight, r.key, r.rn)
            for r in QUERIES["stratified_weighted_sample"]
            .fn(spark, SF_SMALL).collect()
        }
        assert got == want
        # every stratum fills its quota (corpus has >=10 docs/source)
        per_src = {}
        for source, *_ in got:
            per_src[source] = per_src.get(source, 0) + 1
        assert all(v == 10 for v in per_src.values())


class TestCdxIndexBuild:
    def test_pointers_are_byte_accurate(self, spark):
        """Slice the ACTUAL WARC blob bytes at (offset, length) and
        re-parse: the single record must match the CDX line's url
        digest — the end-to-end proof the index points where it
        claims."""
        from edgar_crawler_spark.queries import (
            _warc_date_col,
            _warc_payload_col,
            _warc_url_col,
        )
        from edgar_crawler_spark.sources.warc import (
            parse_warc_records,
            warc_record_expr,
        )

        docs = spark.read.parquet(f"{SF_SMALL}/documents.parquet")
        recs = docs.select(
            (F.col("doc_id") / 32).cast("long").alias("file_id"),
            "doc_id",
            warc_record_expr(
                _warc_url_col(), _warc_date_col(), _warc_payload_col()
            ).alias("rec"),
        ).collect()
        blobs: dict[int, bytes] = {}
        for r in sorted(recs, key=lambda r: (r.file_id, r.doc_id)):
            blobs[r.file_id] = blobs.get(r.file_id, b"") + r.rec.encode()
        cdx = QUERIES["cdx_index_build"].fn(spark, SF_SMALL).collect()
        assert len(cdx) == len(recs)
        for line in cdx:
            fid = int(line.warc_file.split("-")[1])
            chunk = blobs[fid][
                line.rec_offset : line.rec_offset + line.rec_length
            ]
            (url, date, clen, md5hex), = parse_warc_records(chunk)
            surt_host = line.surt.split(")", 1)[0]
            host = ".".join(reversed(surt_host.split(",")))
            assert url.startswith(f"https://{host}/")
            assert md5hex == line.digest
            assert line.ts == "".join(c for c in date if c.isdigit())


class TestCcHypothesis:
    def test_random_graphs_match_union_find(self, spark):
        """Property: on arbitrary small graphs, alternating large-
        star/small-star labels == union-find component minima."""
        from hypothesis import HealthCheck, given, settings
        from hypothesis import strategies as st_

        @settings(
            max_examples=12, deadline=None,
            suppress_health_check=[HealthCheck.too_slow],
        )
        @given(
            st_.lists(
                st_.tuples(
                    st_.integers(0, 30), st_.integers(0, 30)
                ),
                min_size=1, max_size=40,
            )
        )
        def prop(edges):
            real = [(u, v) for u, v in edges if u != v]
            df = spark.createDataFrame(
                edges, "u long, v long"
            )
            labels, _ = alternating_cc(df)
            got = {r.node: r.label for r in labels.collect()}
            assert got == _union_find(real)

        prop()


class TestKcorePeel:
    def test_matches_python_peel_and_fixpoint(self, spark):
        """Python peel-to-fixpoint == the fixed-round query (the 8
        rounds must reach the fixpoint at this SF), and the result
        is a true k-core: every member keeps >= k neighbors INSIDE
        the core."""
        from collections import defaultdict

        from edgar_crawler_spark.queries import (
            _KCORE_DENSE,
            _KCORE_K,
            _KCORE_MOD,
            QUERIES,
        )

        ev = spark.read.parquet(f"{SF_SMALL}/events.parquet").collect()
        adj = defaultdict(set)
        for r in ev:
            u = (r.event_id * 2654435761) % _KCORE_MOD
            v = (r.event_id * 2654435761 + r.user_id * 40503 + 7) % _KCORE_MOD
            if u != v:
                adj[u].add(v); adj[v].add(u)
            if r.event_id % 4 == 0:
                a = (r.user_id * 31 + r.event_id) % _KCORE_DENSE
                b = (r.user_id * 31 + r.event_id * 17 + 3) % _KCORE_DENSE
                if a != b:
                    adj[a].add(b); adj[b].add(a)
        nodes = set(adj)
        while True:
            drop = {n for n in nodes if len(adj[n] & nodes) < _KCORE_K}
            if not drop:
                break
            nodes -= drop
        want = {n: len(adj[n] & nodes) for n in nodes}
        got = {
            r.node: r.degree
            for r in QUERIES["kcore_peel"].fn(spark, SF_SMALL).collect()
        }
        assert got == want
        assert got, "fixture must yield a non-empty core"
        assert all(d >= _KCORE_K for d in got.values())
