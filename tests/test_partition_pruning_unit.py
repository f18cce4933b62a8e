"""Unit tests for transform-aware partition pruning internals
(`sources/partition_pruning.py`): the Iceberg spec's bucket hash test
vectors, transform application, source-interval reconstruction, SQL
conjunct extraction, and the file-survival decision. No SparkSession."""

from __future__ import annotations

import datetime
import struct

from cloudfloe_spark.sources import partition_pruning as pp


def _signed(h: int) -> int:
    return h - (1 << 32) if h >= (1 << 31) else h


class TestBucketHash:
    """Iceberg spec Appendix B publishes exact murmur3_x86_32 test
    vectors; matching them is what makes this pruning interoperable with
    files written by any real Iceberg writer."""

    def test_int_and_long_34(self):
        assert pp.murmur3_x86_32(struct.pack("<q", 34)) == 2017239379

    def test_string_iceberg(self):
        assert pp.murmur3_x86_32(b"iceberg") == 1210000089

    def test_date_2017_11_16(self):
        days = (datetime.date(2017, 11, 16) - datetime.date(1970, 1, 1)).days
        assert _signed(pp.murmur3_x86_32(struct.pack("<q", days))) == -653330422

    def test_timestamp_vector(self):
        micros = pp._epoch_micros(datetime.datetime(2017, 11, 16, 22, 31, 8))
        assert (
            _signed(pp.murmur3_x86_32(struct.pack("<q", micros)))
            == -2047944441
        )

    def test_bucket_value_ranges(self):
        for v in (0, 1, -5, 10**12):
            b = pp.bucket_value(v, 16, "long")
            assert 0 <= b < 16
        assert pp.bucket_value("iceberg", 7, "string") == (1210000089 % 7)


class TestTransformValue:
    def test_identity(self):
        assert pp.transform_value("identity", "x", "string") == "x"

    def test_day_month_year_hour(self):
        dt = datetime.datetime(2024, 3, 5, 10, 30)
        assert pp.transform_value("day", dt, "timestamp") == 19787
        assert pp.transform_value("month", dt, "timestamp") == (54 * 12 + 2)
        assert pp.transform_value("year", dt, "timestamp") == 54
        assert pp.transform_value("hour", dt, "timestamp") == 19787 * 24 + 10

    def test_truncate_int_floors_negatives(self):
        # spec: truncate is floor-to-multiple, also for negatives
        assert pp.transform_value("truncate[10]", -7, "int") == -10
        assert pp.transform_value("truncate[10]", 17, "int") == 10

    def test_truncate_string(self):
        assert pp.transform_value("truncate[2]", "banana", "string") == "ba"

    def test_null_stays_null(self):
        assert pp.transform_value("day", None, "timestamp") is None


class TestSourceInterval:
    def test_day_interval(self):
        lo, hi, incl = pp.source_interval("day", "19787", "timestamp")
        assert lo == datetime.datetime(2024, 3, 5)
        assert hi == datetime.datetime(2024, 3, 6)
        assert not incl

    def test_month_wraps_december(self):
        lo, hi, _ = pp.source_interval("month", str(54 * 12 + 11), "timestamp")
        assert lo == datetime.datetime(2024, 12, 1)
        assert hi == datetime.datetime(2025, 1, 1)

    def test_truncate_string_prefix_interval(self):
        lo, hi, _ = pp.source_interval("truncate[3]", "abc", "string")
        assert (lo, hi) == ("abc", "abd")

    def test_identity_point(self):
        assert pp.source_interval("identity", "42", "long") == (42, 42, True)

    def test_bucket_marker(self):
        iv = pp.source_interval("bucket[8]", "3", "long")
        assert isinstance(iv, pp._Bucket)
        assert (iv.n, iv.value) == (8, 3)


class TestConjunctExtraction:
    def test_single_relation_where(self):
        out = pp.extract_scan_conjuncts(
            "SELECT * FROM v1 WHERE ts >= TIMESTAMP '2024-03-01' AND n = 5",
            {"v1"},
        )
        assert ("ts", ">=", "2024-03-01") in out["v1"]
        assert ("n", "=", 5) in out["v1"]

    def test_alias_qualified(self):
        out = pp.extract_scan_conjuncts(
            "SELECT t.x FROM v1 AS t WHERE t.lang = 'en'", {"v1"}
        )
        assert out["v1"] == [("lang", "=", "en")]

    def test_flipped_comparison(self):
        out = pp.extract_scan_conjuncts(
            "SELECT * FROM v1 WHERE 5 < n", {"v1"}
        )
        assert out["v1"] == [("n", ">", 5)]

    def test_in_and_between(self):
        out = pp.extract_scan_conjuncts(
            "SELECT * FROM v1 WHERE a IN ('x','y') AND b BETWEEN 2 AND 9",
            {"v1"},
        )
        assert ("a", "in", ["x", "y"]) in out["v1"]
        assert ("b", ">=", 2) in out["v1"]
        assert ("b", "<=", 9) in out["v1"]

    def test_or_contributes_nothing(self):
        out = pp.extract_scan_conjuncts(
            "SELECT * FROM v1 WHERE a = 1 OR b = 2", {"v1"}
        )
        assert "v1" not in out

    def test_join_prunes_per_relation_qualified_only(self):
        # r7 (VERDICT r06 #5): joined scans prune on conjuncts qualified
        # to them; unqualified columns are ambiguous and contribute none
        out = pp.extract_scan_conjuncts(
            "SELECT * FROM v1 JOIN v2 ON v1.k = v2.k "
            "WHERE v1.a = 1 AND v2.b = 2 AND c = 3",
            {"v1", "v2"},
        )
        assert out["v1"] == [("a", "=", 1)]
        assert out["v2"] == [("b", "=", 2)]

    def test_join_alias_qualified_and_nested(self):
        out = pp.extract_scan_conjuncts(
            "SELECT * FROM v1 AS x JOIN t2 ON x.k = t2.k "
            "JOIN t3 ON t3.k = x.k WHERE x.d >= '2024-01-01'",
            {"v1"},
        )
        assert out["v1"] == [("d", ">=", "2024-01-01")]

    def test_join_comma_cross_prunes(self):
        out = pp.extract_scan_conjuncts(
            "SELECT * FROM v1, t2 WHERE v1.a = 1 AND v1.k = t2.k", {"v1"}
        )
        assert out["v1"] == [("a", "=", 1)]

    def test_join_drops_is_null_keeps_not_null(self):
        # IS NULL is satisfiable by outer-join null-extension — pruning
        # the null-supplying side on it would fabricate extra rows
        out = pp.extract_scan_conjuncts(
            "SELECT * FROM t0 LEFT JOIN v1 ON t0.k = v1.k "
            "WHERE v1.a IS NULL AND v1.b IS NOT NULL",
            {"v1"},
        )
        assert out.get("v1", []) == [("b", "notnull", None)]

    def test_join_self_join_still_disqualifies(self):
        out = pp.extract_scan_conjuncts(
            "SELECT * FROM v1 a JOIN v1 b ON a.k = b.k WHERE a.x = 1",
            {"v1"},
        )
        assert "v1" not in out

    def test_join_on_clause_not_extracted(self):
        # only WHERE conjuncts prune; ON predicates of outer joins do not
        # filter the preserved side
        out = pp.extract_scan_conjuncts(
            "SELECT * FROM t0 LEFT JOIN v1 ON t0.k = v1.k AND v1.a = 1",
            {"v1"},
        )
        assert "v1" not in out

    def test_double_reference_disqualifies(self):
        out = pp.extract_scan_conjuncts(
            "SELECT * FROM v1 WHERE a = 1 UNION ALL SELECT * FROM v1",
            {"v1"},
        )
        assert "v1" not in out

    def test_cte_body_qualifies(self):
        out = pp.extract_scan_conjuncts(
            "WITH c AS (SELECT * FROM v1 WHERE d = '2024-01-01') "
            "SELECT count(*) FROM c",
            {"v1"},
        )
        assert out["v1"] == [("d", "=", "2024-01-01")]

    def test_unparseable_sql_returns_empty(self):
        assert pp.extract_scan_conjuncts("NOT SQL AT ALL (", {"v1"}) == {}


_DAY_SPEC = [
    {
        "field_name": "ts_day",
        "column": "ts",
        "transform": "day",
        "type": "timestamp",
    }
]


class TestFileSurvives:
    def test_range_prunes_day(self):
        pv = {"ts_day": "19787"}  # 2024-03-05
        keep = [("ts", ">=", "2024-03-05 00:00:00")]
        drop = [("ts", ">=", "2024-03-06 00:00:00")]
        assert pp.file_survives(_DAY_SPEC, pv, keep)
        assert not pp.file_survives(_DAY_SPEC, pv, drop)

    def test_boundary_is_loose_not_wrong(self):
        pv = {"ts_day": "19787"}
        # predicate exactly at the exclusive upper bound: no row matches
        # (>= next midnight) so the file may be pruned; < lower bound keeps
        assert pp.file_survives(
            _DAY_SPEC, pv, [("ts", "<", "2024-03-05 00:00:01")]
        )
        assert not pp.file_survives(
            _DAY_SPEC, pv, [("ts", "<", "2024-03-05 00:00:00")]
        )

    def test_null_tuple_value_prunes_on_comparison(self):
        assert not pp.file_survives(
            _DAY_SPEC, {"ts_day": None}, [("ts", "=", "2024-03-05 00:00:00")]
        )

    def test_missing_tuple_never_prunes(self):
        assert pp.file_survives(_DAY_SPEC, None, [("ts", "=", "2024-03-05")])
        assert pp.file_survives(_DAY_SPEC, {}, [("ts", "=", "2024-03-05")])

    def test_unrelated_column_never_prunes(self):
        assert pp.file_survives(
            _DAY_SPEC, {"ts_day": "19787"}, [("other", "=", 1)]
        )

    def test_renamed_field_resolves_via_history(self):
        spec = [
            {
                "field_name": "language",
                "column": "language",
                "transform": "identity",
                "type": "string",
            }
        ]
        pv = {"lang": "en"}  # write-time name
        hist = {"lang": "language"}
        assert pp.file_survives(spec, pv, [("language", "=", "en")], hist)
        assert not pp.file_survives(spec, pv, [("language", "=", "fr")], hist)

    def test_bucket_only_equality(self):
        spec = [
            {
                "field_name": "id_bucket",
                "column": "id",
                "transform": "bucket[4]",
                "type": "long",
            }
        ]
        b5 = pp.bucket_value(5, 4, "long")
        pv_match = {"id_bucket": str(b5)}
        pv_other = {"id_bucket": str((b5 + 1) % 4)}
        assert pp.file_survives(spec, pv_match, [("id", "=", 5)])
        assert not pp.file_survives(spec, pv_other, [("id", "=", 5)])
        # range never prunes a bucket
        assert pp.file_survives(spec, pv_other, [("id", ">", 5)])

    def test_incomparable_literal_never_prunes(self):
        assert pp.file_survives(
            _DAY_SPEC, {"ts_day": "19787"}, [("ts", "=", 123)]
        )

    def test_bucket_literal_normalized_to_source_domain(self):
        # Spark coerces string_col = 123 by casting the column, so '0123'
        # matches 123 — hashing the raw int literal against a string bucket
        # would false-prune the file holding '0123'. The bucket path must
        # normalize through _literal_in_domain like the interval path does.
        spec = [
            {
                "field_name": "s_bucket",
                "column": "s",
                "transform": "bucket[8]",
                "type": "string",
            }
        ]
        pv = {"s_bucket": str(pp.bucket_value("0123", 8, "string"))}
        assert pp.file_survives(spec, pv, [("s", "=", 123)])
        assert pp.file_survives(spec, pv, [("s", "in", [123, 456])])
        # a genuinely-string literal still prunes
        other = {
            "s_bucket": str((pp.bucket_value("zz", 8, "string") + 1) % 8)
        }
        assert not pp.file_survives(spec, other, [("s", "=", "zz")])

    def test_bucket_bad_literal_no_crash_no_prune(self):
        # WHERE id = 'abc' / out-of-int64 literal on an int bucket column
        # must neither raise from the planner nor prune anything.
        spec = [
            {
                "field_name": "id_bucket",
                "column": "id",
                "transform": "bucket[4]",
                "type": "long",
            }
        ]
        pv = {"id_bucket": "2"}
        assert pp.file_survives(spec, pv, [("id", "=", "abc")])
        assert pp.file_survives(spec, pv, [("id", "in", ["abc", 1])])
        assert pp._bucket_bytes("abc", "long") is None
        assert pp._bucket_bytes(2 ** 70, "long") is None
        assert pp.bucket_value("abc", 4, "long") is None

    def test_hour_on_date_rejected_and_never_prunes(self):
        import pytest

        # invalid per the Iceberg spec: projecting hour onto the date
        # domain collapses to an empty interval → must contribute nothing
        assert pp.source_interval("hour", "473384", "date") is None
        spec = [
            {
                "field_name": "d_hour",
                "column": "d",
                "transform": "hour",
                "type": "date",
            }
        ]
        pv = {"d_hour": "473384"}
        assert pp.file_survives(spec, pv, [("d", "=", "2024-01-01")])
        with pytest.raises(ValueError):
            pp.transform_value("hour", datetime.date(2024, 1, 1), "date")


class TestNullConjuncts:
    def test_extract_is_null(self):
        out = pp.extract_scan_conjuncts(
            "SELECT * FROM v1 WHERE a IS NULL AND b IS NOT NULL", {"v1"}
        )
        assert ("a", "isnull", None) in out["v1"]
        assert ("b", "notnull", None) in out["v1"]

    def test_is_null_keeps_only_null_tuple_files(self):
        spec = [
            {
                "field_name": "lang",
                "column": "lang",
                "transform": "identity",
                "type": "string",
            }
        ]
        isnull = [("lang", "isnull", None)]
        notnull = [("lang", "notnull", None)]
        # transforms are null-preserving: a null tuple == all-null rows
        assert pp.file_survives(spec, {"lang": None}, isnull)
        assert not pp.file_survives(spec, {"lang": "en"}, isnull)
        assert pp.file_survives(spec, {"lang": "en"}, notnull)
        assert not pp.file_survives(spec, {"lang": None}, notnull)
        # a file without partition metadata never prunes
        assert pp.file_survives(spec, None, isnull)

    def test_is_null_on_day_transform(self):
        assert pp.file_survives(_DAY_SPEC, {"ts_day": None}, [("ts", "isnull", None)])
        assert not pp.file_survives(
            _DAY_SPEC, {"ts_day": "19787"}, [("ts", "isnull", None)]
        )


class TestSoundnessProperty:
    """THE pruning invariant, property-tested: if file_survives() says
    False, then NO source value in that file can satisfy the conjunct.
    (The converse — surviving files may contain no match — is allowed:
    pruning is an optimization, looseness is fine, false pruning is a
    wrong-results bug.)"""

    def _check(self, transform, iceberg_type, values, conjunct):
        groups: dict = {}
        for v in values:
            tv = pp.transform_value(transform, v, iceberg_type)
            groups.setdefault(tv, []).append(v)
        fname = "c_x"
        spec = [
            {
                "field_name": fname,
                "column": "c",
                "transform": transform,
                "type": iceberg_type,
            }
        ]
        col, op, lit = conjunct
        for tv, members in groups.items():
            pv = {fname: None if tv is None else str(tv)}
            if pp.file_survives(spec, pv, [conjunct]):
                continue
            # pruned: prove no member satisfies the predicate
            for m in members:
                assert not self._sat(m, op, lit), (
                    transform,
                    iceberg_type,
                    tv,
                    m,
                    conjunct,
                )

    @staticmethod
    def _sat(v, op, lit):
        if v is None:
            return False  # SQL comparison with NULL is never TRUE
        if op == "in":
            return v in lit
        if op == "isnull":
            return False
        if op == "notnull":
            return True
        return {
            "=": v == lit,
            "<": v < lit,
            "<=": v <= lit,
            ">": v > lit,
            ">=": v >= lit,
            "<>": v != lit,
        }[op]

    def test_int_transforms_random(self):
        import random

        rng = random.Random(7)
        ops = ["=", "<", "<=", ">", ">=", "<>"]
        for trial in range(300):
            transform = rng.choice(
                ["identity", "bucket[4]", "bucket[16]", "truncate[10]",
                 "truncate[100]"]
            )
            values = [rng.randint(-500, 500) for _ in range(30)] + [None]
            op = rng.choice(ops + ["in", "isnull", "notnull"])
            lit = (
                [rng.randint(-500, 500) for _ in range(3)]
                if op == "in"
                else (None if op in ("isnull", "notnull")
                      else rng.randint(-500, 500))
            )
            self._check(transform, "long", values, ("c", op, lit))

    def test_string_transforms_random(self):
        import random
        import string as s

        rng = random.Random(11)
        def rnd_str():
            return "".join(
                rng.choice(s.ascii_lowercase) for _ in range(rng.randint(0, 6))
            )
        for trial in range(300):
            transform = rng.choice(
                ["identity", "truncate[2]", "truncate[3]", "bucket[8]"]
            )
            values = [rnd_str() for _ in range(25)] + [None]
            op = rng.choice(["=", "<", "<=", ">", ">=", "in"])
            lit = (
                [rnd_str() for _ in range(3)] if op == "in" else rnd_str()
            )
            self._check(transform, "string", values, ("c", op, lit))

    def test_temporal_transforms_random(self):
        import random

        rng = random.Random(13)
        base = datetime.datetime(2020, 1, 1)
        def rnd_ts():
            return base + datetime.timedelta(
                minutes=rng.randint(0, 4 * 365 * 24 * 60)
            )
        for trial in range(300):
            transform = rng.choice(["year", "month", "day", "hour"])
            values = [rnd_ts() for _ in range(25)] + [None]
            op = rng.choice(["=", "<", "<=", ">", ">="])
            # literal in the string form the SQL layer hands over
            lit = rnd_ts().strftime("%Y-%m-%d %H:%M:%S")
            # predicate evaluation domain: parse back like the pruner does
            lit_dt = pp._parse_ts(lit)
            groups: dict = {}
            for v in values:
                tv = pp.transform_value(transform, v, "timestamp")
                groups.setdefault(tv, []).append(v)
            spec = [
                {
                    "field_name": "ts_x",
                    "column": "ts",
                    "transform": transform,
                    "type": "timestamp",
                }
            ]
            for tv, members in groups.items():
                pv = {"ts_x": None if tv is None else str(tv)}
                if pp.file_survives(spec, pv, [("ts", op, lit)]):
                    continue
                for m in members:
                    assert m is None or not self._sat(m, op, lit_dt), (
                        transform, tv, m, op, lit
                    )


class TestStatsSoundnessProperty:
    """The file-STATISTICS pruning invariant, property-tested the same way
    as TestSoundnessProperty: if file_survives_stats() says False for a
    file, then NO value in that file can satisfy the conjunct. Stats are
    computed exactly as the fixture writer does (min/max of non-null
    values, null count, record count)."""

    @staticmethod
    def _stats_for(values, fmt=str):
        nn = [v for v in values if v is not None]
        stats = {
            "lower": {"c": fmt(min(nn))} if nn else None,
            "upper": {"c": fmt(max(nn))} if nn else None,
            "nulls": {"c": sum(1 for v in values if v is None)},
            "records": len(values),
        }
        return stats

    def _check(self, iceberg_type, values, conjunct, fmt=str):
        stats = self._stats_for(values, fmt)
        if pp.file_survives_stats(stats, [conjunct], {"c": iceberg_type}):
            return
        _, op, lit = conjunct
        for v in values:
            assert not TestSoundnessProperty._sat(v, op, lit), (
                iceberg_type,
                stats,
                v,
                conjunct,
            )

    def test_int_stats_random(self):
        import random

        rng = random.Random(11)
        ops = ["=", "<", "<=", ">", ">=", "<>"]
        for _ in range(400):
            values = [
                None if rng.random() < 0.15 else rng.randint(-50, 50)
                for _ in range(rng.randint(1, 12))
            ]
            op = rng.choice(ops + ["in", "isnull", "notnull"])
            lit = (
                [rng.randint(-55, 55) for _ in range(3)]
                if op == "in"
                else None
                if op in ("isnull", "notnull")
                else rng.randint(-55, 55)
            )
            self._check("long", values, ("c", op, lit))

    def test_string_stats_random(self):
        import random

        rng = random.Random(13)
        ops = ["=", "<", "<=", ">", ">="]
        words = ["alpha", "beta", "gamma", "delta", "omega", "zz", "a"]
        for _ in range(300):
            values = [
                None if rng.random() < 0.2 else rng.choice(words)
                for _ in range(rng.randint(1, 8))
            ]
            self._check(
                "string", values, ("c", rng.choice(ops), rng.choice(words))
            )

    def test_date_stats_random(self):
        # values/literals as ISO strings: lexicographic == chronological,
        # so the ground-truth comparison and the evaluator (which parses
        # them back to dates) agree on ordering.
        import datetime
        import random

        rng = random.Random(17)
        base = datetime.date(2024, 1, 1)
        ops = ["=", "<", "<=", ">", ">="]
        for _ in range(300):
            values = [
                None
                if rng.random() < 0.2
                else (base + datetime.timedelta(days=rng.randint(0, 400))).isoformat()
                for _ in range(rng.randint(1, 8))
            ]
            lit = (base + datetime.timedelta(days=rng.randint(-5, 405))).isoformat()
            self._check("date", values, ("c", rng.choice(ops), lit))

    def test_float_stats_random(self):
        import random

        rng = random.Random(19)
        ops = ["=", "<", "<=", ">", ">="]
        for _ in range(300):
            values = [
                None if rng.random() < 0.15 else round(rng.uniform(-9, 9), 3)
                for _ in range(rng.randint(1, 10))
            ]
            self._check(
                "double",
                values,
                ("c", rng.choice(ops), round(rng.uniform(-10, 10), 3)),
                fmt=repr,
            )

    def test_renamed_stats_still_sound(self):
        # bounds recorded under write-time name 'c'; conjunct on 'c2'
        stats = {
            "lower": {"c": "10"},
            "upper": {"c": "19"},
            "nulls": {"c": 0},
            "records": 5,
        }
        hist = {"c": "c2"}
        assert not pp.file_survives_stats(
            stats, [("c2", "=", 25)], {"c2": "long"}, hist
        )
        assert pp.file_survives_stats(
            stats, [("c2", "=", 12)], {"c2": "long"}, hist
        )


class TestSpecResolver:
    """Per-file spec resolution across partition-spec evolution
    (VERDICT r06 #4): a file is evaluated under the spec it was written
    under, never the table default."""

    SPEC4 = [
        {"field_name": "v_bucket", "column": "v", "transform": "bucket[4]",
         "type": "long"}
    ]
    SPEC8 = [
        {"field_name": "v_bucket", "column": "v", "transform": "bucket[8]",
         "type": "long"}
    ]

    def test_stamped_files_use_their_own_spec(self):
        res = pp.spec_resolver({0: self.SPEC4, 1: self.SPEC8},
                               {"old.pq": 0, "new.pq": 1})
        assert res("old.pq") is self.SPEC4
        assert res("new.pq") is self.SPEC8

    def test_unstamped_file_multi_spec_never_prunes(self):
        res = pp.spec_resolver({0: self.SPEC4, 1: self.SPEC8}, {"f.pq": None})
        assert res("f.pq") is None
        assert res("unknown.pq") is None

    def test_unstamped_file_single_spec_uses_it(self):
        res = pp.spec_resolver({0: self.SPEC4}, {"f.pq": None})
        assert res("f.pq") is self.SPEC4

    def test_same_field_name_different_transform_soundness(self):
        # the latent wrong-transform edge: v_bucket recorded under
        # bucket[4] must NOT be compared against a bucket[8] hash of the
        # literal. Pick v where the two bucket values differ.
        v = next(
            x for x in range(1, 1000)
            if pp.bucket_value(x, 4, "long") != pp.bucket_value(x, 8, "long")
        )
        pv = {"v_bucket": str(pp.bucket_value(v, 4, "long"))}
        conj = [("v", "=", v)]
        # default-spec (bucket[8]) evaluation would false-prune:
        assert not pp.file_survives(self.SPEC8, pv, conj)
        # own-spec evaluation keeps the file:
        assert pp.file_survives(self.SPEC4, pv, conj)

    def test_random_two_spec_evolution_never_false_prunes(self):
        """Property: rows written under either spec, equality conjuncts
        on the source column — a file containing the queried value always
        survives when evaluated under its OWN spec."""
        import random

        rng = random.Random(77)
        specs = {0: self.SPEC4, 1: self.SPEC8}
        for _ in range(300):
            sid = rng.choice([0, 1])
            n = 4 if sid == 0 else 8
            v = rng.randrange(-10**6, 10**6)
            pv = {"v_bucket": str(pp.bucket_value(v, n, "long"))}
            res = pp.spec_resolver(specs, {"f.pq": sid})
            assert pp.file_survives(res("f.pq"), pv, [("v", "=", v)])


class TestPrunePositionDeletesProperty:
    """Soundness property of the delete-file pruning (r8): a delete file
    whose footer-recorded targets intersect the scanned set is ALWAYS
    kept; one that provably targets nothing scanned is dropped; an
    unreadable footer keeps the file."""

    def test_property_sound(self):
        from hypothesis import given, settings
        from hypothesis import strategies as st

        from cloudfloe_spark.sources import iceberg_meta as im

        names = st.text(
            alphabet="abcdef0123456789", min_size=1, max_size=8
        ).map(lambda s: f"{s}.parquet")

        @settings(max_examples=200, deadline=None)
        @given(
            targets_per_delete=st.lists(
                st.frozensets(names, max_size=4), min_size=0, max_size=5
            ),
            scanned=st.sets(names, max_size=6),
        )
        def check(targets_per_delete, scanned):
            targets = {}
            dpaths = []
            for i, tg in enumerate(targets_per_delete):
                p = f"/w/t/data/deletes-{i}.parquet"
                dpaths.append(p)
                targets[p] = tg
            # the delete files do not exist, so nothing is cached: each
            # lookup reads its targets from the stand-in footer reader
            real = im.position_delete_targets
            im.position_delete_targets = lambda ps: set(targets[ps[0]])
            try:
                kept = im.prune_position_deletes(
                    dpaths, [f"/w/t/data/{s}" for s in scanned]
                )
            finally:
                im.position_delete_targets = real
            for p, tg in zip(dpaths, targets_per_delete):
                if tg & scanned:
                    assert p in kept  # NEVER drop a targeting file
                else:
                    assert p not in kept

        check()

    def test_unreadable_footer_keeps_file(self, tmp_path):
        from cloudfloe_spark.sources import iceberg_meta as im

        bogus = str(tmp_path / "data" / "deletes-x.parquet")
        kept = im.prune_position_deletes(
            [bogus], ["/w/t/data/a.parquet"]
        )
        assert kept == [bogus]  # sound-by-keeping on any failure
