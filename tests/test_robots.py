"""REP longest-prefix-match URL admission (operators/robots.py)."""

from __future__ import annotations


def _run(spark, urls, rules):
    from med_doi_feature_extraction_spark.operators.robots import (
        apply_robots,
    )

    u = spark.createDataFrame(
        [(i, x) for i, x in enumerate(urls)], "id long, url string"
    )
    r = spark.createDataFrame(
        rules, "host string, rule string, path_prefix string"
    )
    return {
        r_["id"]: (
            r_["robots_type"],
            r_["robots_prefix"],
            r_["robots_allowed"],
        )
        for r_ in apply_robots(u, r, "url", id_cols=["id"]).collect()
    }


class TestApplyRobots:
    def test_longest_match_wins(self, spark):
        got = _run(
            spark,
            ["https://a.com/cat/7/x"],
            [
                ("a.com", "disallow", "/cat/"),
                ("a.com", "allow", "/cat/7/"),
            ],
        )
        assert got[0] == ("allow", "/cat/7/", 1)

    def test_allow_wins_equal_length_tie(self, spark):
        got = _run(
            spark,
            ["https://a.com/abc"],
            [
                ("a.com", "disallow", "/ab"),
                ("a.com", "allow", "/ab"),
            ],
        )
        assert got[0] == ("allow", "/ab", 1)

    def test_unlisted_host_and_no_match_are_allowed(self, spark):
        got = _run(
            spark,
            ["https://other.com/x", "https://a.com/zzz"],
            [("a.com", "disallow", "/cat/")],
        )
        assert got[0] == (None, None, 1)
        assert got[1] == (None, None, 1)

    def test_bare_host_gets_root_path(self, spark):
        got = _run(
            spark,
            ["https://a.com", "https://a.com/"],
            [("a.com", "disallow", "/")],
        )
        assert got[0][2] == 0 and got[1][2] == 0

    def test_host_normalization_port_case_userinfo(self, spark):
        got = _run(
            spark,
            [
                "HTTPS://A.com:443/p",
                "http://user@a.com:80/p",
            ],
            [("a.com", "disallow", "/p")],
        )
        assert got[0][2] == 0 and got[1][2] == 0

    def test_query_string_not_part_of_path(self, spark):
        got = _run(
            spark,
            ["https://a.com/p?q=/cat/"],
            [("a.com", "disallow", "/cat/")],
        )
        assert got[0] == (None, None, 1)

    def test_disallow_all_with_carve_out(self, spark):
        urls = [
            "https://a.com/public/doc",
            "https://a.com/private/doc",
        ]
        rules = [
            ("a.com", "disallow", "/"),
            ("a.com", "allow", "/public/"),
        ]
        got = _run(spark, urls, rules)
        assert got[0][2] == 1 and got[1][2] == 0

    def test_duckdb_twin_with_url_as_id(self, spark):
        """At apply_robots' default ``id_cols=("url",)`` the DuckDB
        twin returns Spark's columns (url once) and rows."""
        import duckdb

        from med_doi_feature_extraction_spark.operators.robots import (
            apply_robots,
            oracle_robots_sql,
        )

        urls = [
            "https://a.com/cat/7/x",
            "https://a.com/cat/1",
            "HTTPS://A.com:443/p",
            "https://a.com/zzz",
            "https://other.com/cat/",
        ]
        rules = [
            ("a.com", "disallow", "/cat/"),
            ("a.com", "allow", "/cat/7/"),
            ("a.com", "disallow", "/p"),
        ]
        out = apply_robots(
            spark.createDataFrame([(u,) for u in urls], "url string"),
            spark.createDataFrame(
                rules, "host string, rule string, path_prefix string"
            ),
        )
        values = lambda rows: ", ".join(
            "(" + ", ".join(f"'{v}'" for v in r) + ")" for r in rows
        )
        res = duckdb.connect().execute(
            oracle_robots_sql(
                f"(VALUES {values([(u,) for u in urls])}) t(url)",
                f"SELECT * FROM (VALUES {values(rules)})"
                " r(host, rule, path_prefix)",
                ("url",),
            )
        )
        assert [d[0] for d in res.description] == out.columns
        assert sorted(res.fetchall(), key=str) == sorted(
            (tuple(r) for r in out.collect()), key=str
        )


class TestParseRobots:
    def test_group_semantics(self, spark):
        from med_doi_feature_extraction_spark.operators.robots import (
            parse_robots,
            robots_directives,
        )

        body = "\n".join([
            "Disallow: /orphan",          # before any group: ignored
            "# comment line",
            "User-agent: *",
            "User-agent: GoodBot",        # same UA run -> same group
            "Disallow: /private",
            "Allow: /private/ok",
            "Disallow:",                  # empty: no restriction, dropped
            "",
            "USER-AGENT: BadBot",         # case-insensitive key
            "Disallow: /",
            "Crawl-delay: 10",
            "Sitemap: https://h1/sitemap.xml",
        ])
        df = spark.createDataFrame([("h1", body)], "host string, body string")
        rules = parse_robots(df).collect()
        got = {(r.agent, r.rule, r.path_prefix) for r in rules}
        assert got == {
            ("*", "disallow", "/private"),
            ("*", "allow", "/private/ok"),
            ("goodbot", "disallow", "/private"),
            ("goodbot", "allow", "/private/ok"),
            ("badbot", "disallow", "/"),
        }
        d = robots_directives(df).collect()
        dd = {(r.directive, r.agent, r.value) for r in d}
        assert ("sitemap", "", "https://h1/sitemap.xml") in dd
        assert ("crawl-delay", "badbot", "10") in dd
        # crawl-delay belongs to badbot's group only
        assert ("crawl-delay", "*", "10") not in dd

    def test_crlf_and_comments(self, spark):
        from med_doi_feature_extraction_spark.operators.robots import (
            parse_robots,
        )

        body = "User-agent: *\r\nDisallow: /x # inline comment\r\n"
        df = spark.createDataFrame([("h2", body)], "host string, body string")
        rules = parse_robots(df).collect()
        assert [(r.agent, r.rule, r.path_prefix) for r in rules] == [
            ("*", "disallow", "/x")
        ]

    def test_parse_feeds_apply(self, spark):
        """End-to-end: parse robots.txt, filter to agent '*', admit a
        URL table with apply_robots."""
        from pyspark.sql import functions as F

        from med_doi_feature_extraction_spark.operators.robots import (
            apply_robots,
            generate_robots_corpus,
            parse_robots,
        )

        robots = spark.createDataFrame(generate_robots_corpus(30, seed=5))
        rules = parse_robots(robots).where(F.col("agent") == "*")
        urls = spark.createDataFrame(
            [(f"https://site{h}.example.com/private/page",)
             for h in range(30)]
            + [(f"https://site{h}.example.com/public/page",)
               for h in range(30)],
            "url string",
        )
        out = apply_robots(urls, rules, "url").toPandas()
        priv = out[out.url.str.contains("/private/")]
        pub = out[out.url.str.contains("/public/")]
        assert (priv.robots_allowed == 0).all()  # every host disallows
        assert (pub.robots_allowed == 1).all()

    def test_fixture_strata(self, spark):
        from med_doi_feature_extraction_spark.operators.robots import (
            generate_robots_corpus,
            parse_robots,
            robots_directives,
        )

        df = spark.createDataFrame(generate_robots_corpus(60, seed=83))
        rules = parse_robots(df).toPandas()
        assert (rules.path_prefix != "").all()
        assert not rules.path_prefix.str.contains("orphan").any()
        assert set(rules.agent) >= {"*", "badbot", "goodbot"}
        d = robots_directives(df).toPandas()
        assert (d[d.directive == "sitemap"].agent == "").all()
        delays = d[d.directive == "crawl-delay"]
        assert {"10", "2.5"} <= set(delays.value)


class TestWildcardRules:
    RULES = [
        ("h.com", "disallow", "/*.pdf$"),
        ("h.com", "disallow", "/private*"),
        ("h.com", "allow", "/private/ok/"),
        ("h.com", "disallow", "/a+b/"),
        ("h.com", "disallow", "/x/*/y$"),
    ]

    def _run(self, spark, paths):
        from med_doi_feature_extraction_spark.operators.robots import (
            apply_robots_wildcards,
        )

        urls = spark.createDataFrame(
            [(f"https://h.com{p}",) for p in paths], "url string"
        )
        rules = spark.createDataFrame(
            self.RULES, "host string, rule string, path_prefix string"
        )
        out = apply_robots_wildcards(urls, rules)
        return {
            r["url"].replace("https://h.com", ""): r["robots_allowed"]
            for r in out.collect()
        }

    def test_dollar_anchor(self, spark):
        got = self._run(spark, ["/doc.pdf", "/doc.pdfx", "/a/b/c.pdf"])
        assert got == {"/doc.pdf": 0, "/doc.pdfx": 1, "/a/b/c.pdf": 0}

    def test_star_and_precedence(self, spark):
        got = self._run(
            spark, ["/private/x", "/private/ok/y", "/privateer"]
        )
        assert got["/private/x"] == 0
        assert got["/private/ok/y"] == 1  # longer allow wins
        assert got["/privateer"] == 0     # '*' continues the token

    def test_metachars_are_literal(self, spark):
        got = self._run(spark, ["/a+b/z", "/aab/z", "/ab/z"])
        assert got == {"/a+b/z": 0, "/aab/z": 1, "/ab/z": 1}

    def test_mid_star_with_anchor(self, spark):
        got = self._run(spark, ["/x/1/y", "/x/1/2/y", "/x/1/y/tail"])
        assert got["/x/1/y"] == 0
        assert got["/x/1/2/y"] == 0   # '*' spans slashes per RFC
        assert got["/x/1/y/tail"] == 1

    def test_plain_prefix_matches_legacy_matcher(self, spark):
        from med_doi_feature_extraction_spark.operators.robots import (
            apply_robots,
            apply_robots_wildcards,
        )

        rules = spark.createDataFrame(
            [("h.com", "disallow", "/p/"), ("h.com", "allow", "/p/ok")],
            "host string, rule string, path_prefix string",
        )
        urls = spark.createDataFrame(
            [(f"https://h.com/p/{i}",) for i in range(5)]
            + [("https://h.com/p/ok1",), ("https://h.com/q",)],
            "url string",
        )
        a = sorted(tuple(r) for r in apply_robots(urls, rules).collect())
        b = sorted(
            tuple(r) for r in apply_robots_wildcards(urls, rules).collect()
        )
        assert a == b
