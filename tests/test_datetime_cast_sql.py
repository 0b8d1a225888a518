"""String -> DATE/TIME/TIMESTAMP cast parity (dialect wiring + the
JVM-native SQL chains in functions/datetime_parse.py).

Two layers:
* engine-level pins for the literal-cast rewrites, values from
  Tests/ExecuteTest.cpp:27869-28010 and Tests/Shared/DateTimeUtilsTest;
* a differential sweep: the sql_parse_* chains must agree with the
  Python port (itself pinned against the reference) over a corpus of
  well-formed, quirky, and garbage strings.
"""

from __future__ import annotations

import datetime

import pytest

from heavydb_spark.functions import datetime_parse as dtp

UTC_EPOCH = datetime.datetime(1970, 1, 1)


CORPUS = [
    # DateTimeUtilsTest TIME strings
    "22:28:48", "22:28:48.876", "T22:28:48", "222848",
    "22:28:48-05:00", "22:28:48+05:00", "22:28",
    "22-28-48", "2228.48", "22.28.48", "22",
    # ExecuteTest date formats
    "1999-09-10", "10/09/1999", "10/09/99", "10-Sep-99", "9/10/99",
    "31/Oct/2013", "10/31/13", "2015-06-21", "06/21/2015", "21-Jun-15",
    "21/Jun/2015", "1434844800",
    # ExecuteTest timestamp formats
    "2015-06-21 14:15:16", "2015-06-21:141516",
    "21-JUN-15 2.15.16.12345 PM", "21-JUN-15 2.15.16.12345 AM",
    "21-JUN-15 2:15:16 AM", "06/21/2015 14:15:16",
    "21/Aug/2015:12:13:14 -0600", "2015-08-21T12:13:14 -0600",
    "21-Aug-15 12:13:14 -0600", "21/Aug/2015:13:13:14 -0500",
    "2015-08-21T18:13:14", "2014-12-13T000000",
    # quirk shapes
    "2013-09-10", "2013-09-10 ", "2013-09-10 garbage",
    "2020-01-01 9.30", "2020-01-01 -0500", "2020-01-01 1234",
    "2020-01-01 12:13:14.x", "2020-01-01 22:13:14.x",
    "2020-01-01 12:60:10", "2020-01-01 9.30.15.x",
    "2020-01-01 9.30.99", "2020-01-01 0:30:15 am",
    "2020-01-01 12:30 AM", "2020-01-01 12:30 PM",
    "2020-01-01 9 pm", "2020-01-01 9 p.m. x",
    "2020-01-01 22 28 48", "2020-01-01 12 34", "2020-01-01 123",
    "2020-01-01 9:30:15 american",
    # century / format-order edges
    "01/02/68", "01/02/69", "1/2/5", "2020/02/03", "13/05/06",
    "15-March-21", "15-Marx-21", "15-Janu-21", "15-Mar- 21",
    "1999-09-09 23:59:59", "01/02/-44",
    # shifted month-suffix table (comma bug, DateTimeParser.cpp:46)
    "15-November-21", "15-Janruary-21", "15-Maril-21", "15-Maye-21",
    "15-Octember-21", "15-January-21", "21/December/2015",
    "21/Nov. . wait/2015", "15-febch-21", "15-April-21",
    # value-based %y/%Y split (zero-padded years)
    "01/02/012", "1/2/0012", "15-Mar-012", "1/2/123", "1/2/0123",
    "01/02/0068", "01/02/00691", "15-Mar-0500",
    # \z anchoring (trailing newline must not sneak past $)
    "22:30\n", "936835200\n", "2013-09-10 09:00:00\n",
    # unixTime fallback
    "936835200", "936835200.75", " 936835200", "2020", "-31496400",
    "-123", "5.",
    # unixTime overflow guard (sweep [9300,9600): a date+time concat
    # can form a 15-digit epoch; unguarded timestamp_seconds THROWS)
    "936835200999999", "9223372036854775807", "-9223372036854775808",
    "253402300799", "253402300800", "-62135596800", "-62135596801",
    # garbage
    "garbage", "", "2020-13-40", "05/60/07", "40/50/60",
    "2020-01-01x", "x2020-01-01", "20-20-01-02",
    # tz variants
    "2015-08-21 12:13:14-0600", "2015-08-21 12:13:14 +05:30",
    "2015-08-21 12:13:14 +123:45", "12:13:14+0500",
    # fraction edges
    "2013-09-10 09:00:00.123", "2013-09-10 09:00:00.999999999",
    "2013-09-10 09:00:00.1234567890123", "2013-09-10 09:00:00.",
    # spacing allowed before %-fields only
    " 2020- 1- 2", "2020 -01-02", "10/ 09/ 1999", "2020-01-01 9: 30: 15",
    "2020-01-01 9 :30",
    # trailing-space eating by ' %p'-ending formats (sweep 5003/5004)
    "T5 ", "T2 ", "9:30 ", "22:30 ", "2.15.16 ", "9 ", "22:28:48 ",
    "9:30:15 pm ",
    # M/S carry from failed %H%M%S attempts (sweep 5002)
    "10/30/795T100578.x xm-8821", "2020-01-01 123456.x",
    "2020-01-01 100578.x", "2020-01-01 12 34 99", "2020-01-01 1234.5",
]


@pytest.fixture(scope="module")
def parsed_corpus(spark):
    """Evaluate all three SQL chains over the corpus in one job."""
    df = spark.createDataFrame([(s,) for s in CORPUS], ["s"])
    df.createOrReplaceTempView("_dt_corpus")
    sql = (
        f"SELECT s, CAST({dtp.sql_parse_date('s')} AS STRING) AS d, "
        f"{dtp.sql_parse_time('s')} AS t, "
        f"{dtp.sql_parse_timestamp('s')} AS ts FROM _dt_corpus"
    )
    rows = spark.sql(sql).collect()
    return {r["s"]: r for r in rows}


class TestChainMatchesPort:
    def test_date_chain(self, parsed_corpus):
        for s in CORPUS:
            got = parsed_corpus[s]["d"]
            want_secs = dtp.parse_date(s)
            if want_secs is None:
                want = None
            elif (dtp._try_formats(dtp.DATE_FORMATS, s)[0] is None
                    and not (dtp._EPOCH_S_MIN <= want_secs
                             <= dtp._EPOCH_S_MAX)):
                # unixTime fallback outside the chain's guarded window
                want = None
            else:
                days = want_secs // 86400
                if not (-719162 <= days <= 2932896):  # years 1..9999
                    continue
                d = (UTC_EPOCH + datetime.timedelta(days=days)).date()
                want = f"{d.year:04d}-{d.month:02d}-{d.day:02d}"
            assert got == want, (s, got, want)

    def test_time_chain(self, parsed_corpus):
        for s in CORPUS:
            got = parsed_corpus[s]["t"]
            want = dtp.parse_time(s)
            assert got == want, (s, got, want)

    def test_timestamp_chain(self, parsed_corpus):
        for s in CORPUS:
            got = parsed_corpus[s]["ts"]
            # the chain keeps fractional micros (engine stance);
            # compare against the port at dim 6
            v = dtp.parse_timestamp(s, 6)
            if v is None:
                want = None
            else:
                s_stripped = s[1:] if s.startswith("T") else s
                if (dtp._try_formats(dtp.DATE_FORMATS, s_stripped)[0]
                        is None and dtp._unix_time(s_stripped) is not None):
                    # unixTime fallback: chain uses epoch SECONDS and
                    # NULLs outside its guarded window
                    secs = dtp.parse_timestamp(s, 0)
                    if not (dtp._EPOCH_S_MIN <= secs <= dtp._EPOCH_S_MAX):
                        assert got is None, (s, got)
                        continue
                    v = secs * 10 ** 6
                if not (dtp._MIN_US <= v <= dtp._MAX_US):
                    continue
                want = UTC_EPOCH + datetime.timedelta(microseconds=v)
            assert got == want, (s, got, want)


def _fuzz_corpus(seed: int, n: int) -> list:
    import random

    rng = random.Random(seed)
    months = ["Jan", "January", "mar", "MARCH", "Ju", "Janu", "xyz", "May",
              "November", "Janruary", "Maril", "maye", "Octember", "dec"]
    # zero-padded 2-digit years exercise the VALUE-based %y/%Y split
    # (fromChars parses '012' -> 12 -> century rule, not 0012)
    years2 = lambda: rng.choice([
        str(rng.randint(0, 120)),
        f"0{rng.randint(0, 99)}", f"00{rng.randint(0, 99)}",
        f"000{rng.randint(0, 9)}"])
    dates = lambda: rng.choice([
        f"{rng.randint(0, 3000)}-{rng.randint(0, 19)}-{rng.randint(0, 35)}",
        f"{rng.randint(0, 19)}/{rng.randint(0, 35)}/{years2()}",
        f"{rng.randint(0, 19)}/{rng.randint(0, 35)}/{rng.randint(100, 3000)}",
        f"{rng.randint(0, 40)}-{rng.choice(months)}-{years2()}",
        f"{rng.randint(0, 40)}/{rng.choice(months)}/{rng.randint(0, 3000)}",
        str(rng.randint(-10**9, 10**9)),
    ])
    times = lambda: rng.choice([
        f"{rng.randint(0, 30)}:{rng.randint(0, 70)}:{rng.randint(0, 70)}",
        f"{rng.randint(0, 30)}:{rng.randint(0, 70)}",
        f"{rng.randint(0, 30)}.{rng.randint(0, 70)}.{rng.randint(0, 70)}",
        f"{rng.randint(0, 30)}.{rng.randint(0, 70)}",
        f"{rng.randint(0, 999999)}",
        f"{rng.randint(1, 12)}",
    ]) + rng.choice(["", f".{rng.randint(0, 10**10)}", ".x"]) + rng.choice(
        ["", " am", " PM", " a.m.", "pm", " xm"])
    tzs = lambda: rng.choice(
        ["", f"+{rng.randint(0, 99):02d}:{rng.randint(0, 99):02d}",
         f"-{rng.randint(0, 99):02d}{rng.randint(0, 99):02d}", "+5:00"])
    out = []
    for _ in range(n):
        s = rng.choice([
            dates(),
            dates() + rng.choice([" ", "T", ":", ""]) + times(),
            "T" + times(),
            times(),
        ])
        s += rng.choice(["", " "]) + tzs()
        if rng.random() < 0.2:
            s += rng.choice([" junk", "Z", "...", " 1999"])
        if rng.random() < 0.1:
            s = " " + s
        if rng.random() < 0.1:
            # trailing newline: Java's $ would sneak past it; the
            # reference's full-consumption paths must reject
            s += "\n"
        out.append(s)
    return sorted(set(out))


def check_fuzz_corpus(spark, corpus) -> list:
    """Evaluate the three SQL chains over `corpus` and compare each
    result with the Python port.  Returns a list of mismatch tuples
    (empty = clean).  Also called by scripts/seed_sweep.py's dtcast
    family, a seed-sweep script removed after commit e45d69f."""
    df = spark.createDataFrame([(s,) for s in corpus], ["s"])
    df.createOrReplaceTempView("_dt_fuzz")
    rows = spark.sql(
        f"SELECT s, CAST({dtp.sql_parse_date('s')} AS STRING) AS d, "
        f"{dtp.sql_parse_time('s')} AS t, "
        f"CAST({dtp.sql_parse_timestamp('s')} AS STRING) AS ts "
        f"FROM _dt_fuzz").collect()
    bad = []
    for r in rows:
        s = r["s"]
        if r["t"] != dtp.parse_time(s):
            bad.append(("time", s, r["t"], dtp.parse_time(s)))
        want_secs = dtp.parse_date(s)
        if want_secs is None:
            want_d = None
        elif (dtp._try_formats(dtp.DATE_FORMATS, s)[0] is None
                and not (dtp._EPOCH_S_MIN <= want_secs
                         <= dtp._EPOCH_S_MAX)):
            want_d = None  # guarded unixTime fallback
        else:
            days = want_secs // 86400
            if not (-719162 <= days <= 2932896):
                want_d = r["d"]  # out of Spark literal range: skip
            else:
                d = (UTC_EPOCH + datetime.timedelta(days=days)).date()
                want_d = f"{d.year:04d}-{d.month:02d}-{d.day:02d}"
        if r["d"] != want_d:
            bad.append(("date", s, r["d"], want_d))
        v = dtp.parse_timestamp(s, 6)
        if v is not None:
            s2 = s[1:] if s.startswith("T") else s
            if (dtp._try_formats(dtp.DATE_FORMATS, s2)[0] is None
                    and dtp._unix_time(s2) is not None):
                secs = dtp.parse_timestamp(s, 0)
                v = (secs * 10 ** 6
                     if dtp._EPOCH_S_MIN <= secs <= dtp._EPOCH_S_MAX
                     else None)
        if v is None:
            want_ts = None
        elif not (dtp._MIN_US <= v <= dtp._MAX_US):
            want_ts = r["ts"]  # out of Spark range: skip
        else:
            ts = UTC_EPOCH + datetime.timedelta(microseconds=v)
            want_ts = (f"{ts.year:04d}-{ts.month:02d}-{ts.day:02d} "
                       f"{ts.hour:02d}:{ts.minute:02d}:{ts.second:02d}")
            if ts.microsecond:
                want_ts += f".{ts.microsecond:06d}".rstrip("0")
        if r["ts"] != want_ts:
            bad.append(("ts", s, r["ts"], want_ts))
    return bad


@pytest.mark.parametrize("seed", [1, 2, 3])
def test_fuzz_chain_matches_port(spark, seed):
    bad = check_fuzz_corpus(spark, _fuzz_corpus(900 + seed, 250))
    assert not bad, bad[:5]


class TestLiteralCasts:
    """Engine-level pins (ExecuteTest DateAndTimeFunctionsTest)."""

    def test_cast_literal_to_date_formats(self, engine):
        r = engine.sql(
            "SELECT CAST('10/09/1999' AS DATE) AS a,"
            " CAST('10-Sep-99' AS DATE) AS b,"
            " CAST('31/Oct/2013' AS DATE) AS c,"
            " CAST('1434844800' AS DATE) AS e,"
            " CAST('9/10/99' AS DATE) AS f").first()
        assert str(r["a"]) == "1999-10-09"
        assert str(r["b"]) == "1999-09-10"
        assert str(r["c"]) == "2013-10-31"
        assert str(r["e"]) == "2015-06-21"
        assert str(r["f"]) == "1999-09-10"

    def test_cast_literal_to_timestamp_custom(self, engine):
        r = engine.sql(
            "SELECT CAST('2015-06-21:141516' AS TIMESTAMP) AS a,"
            " CAST('21-JUN-15 2:15:16 PM' AS TIMESTAMP) AS b,"
            " CAST('06/21/2015 14:15:16' AS TIMESTAMP) AS c").first()
        expect = datetime.datetime(2015, 6, 21, 14, 15, 16)
        assert r["a"] == expect and r["b"] == expect and r["c"] == expect

    def test_cast_literal_to_timestamp_iso_offset(self, engine):
        r = engine.sql(
            "SELECT CAST('21/Aug/2015:12:13:14 -0600' AS TIMESTAMP) AS a,"
            " CAST('21-Aug-15 12:13:14 -0600' AS TIMESTAMP) AS b,"
            " CAST('2015-08-21T18:13:14' AS TIMESTAMP) AS c").first()
        expect = datetime.datetime(2015, 8, 21, 18, 13, 14)
        assert r["a"] == expect and r["b"] == expect and r["c"] == expect

    def test_timestamp_literal_alternate_syntax(self, engine):
        # ExecuteTest:28005 timestamp(0) '2014-12-13T000000'
        r = engine.sql(
            "SELECT timestamp(0) '2014-12-13T000000' AS t").first()
        assert r["t"] == datetime.datetime(2014, 12, 13)

    def test_time_literal_formats(self, engine):
        r = engine.sql(
            "SELECT CAST('151315' AS TIME) AS a,"
            " CAST('T22:28:48' AS TIME) AS b,"
            " CAST('22:28:48-05:00' AS TIME) AS c,"
            " TIME '10:30:00' AS d,"
            " CAST('22' AS TIME) AS bad").first()
        assert r["a"] == 54795 and r["b"] == 80928
        assert r["c"] == 98928 and r["d"] == 37800
        assert r["bad"] is None

    def test_epoch_string_to_timestamp(self, engine):
        # StringFunctionsTest:1184 extract(epoch from try_cast(...))
        r = engine.sql(
            "SELECT EXTRACT(EPOCH FROM TRY_CAST('2013-09-10 09:00:00'"
            " AS TIMESTAMP)) AS e,"
            " TRY_CAST('1378803600' AS TIMESTAMP) AS t").first()
        assert r["e"] == 1378803600
        assert r["t"] == datetime.datetime(2013, 9, 10, 9, 0, 0)

    def test_unparseable_literal_stays_native_null(self, engine):
        # reference throws; ANSI-off engine yields NULL (try_cast
        # agreement) — documented stance
        r = engine.sql(
            "SELECT TRY_CAST('2020 -09/10 09:00:00' AS TIMESTAMP) AS a"
        ).first()
        assert r["a"] is None

    def test_iso_literals_untouched(self, engine):
        # ISO date+time literals keep Spark's native cast (micros
        # preserved); a BARE iso date is the kTIMESTAMP empty-
        # remainder reject (DateTimeParser.cpp:173-176) -> NULL,
        # matching the string-column chain, while a trailing space
        # makes the time parse fail over to midnight (value_or(0)).
        r = engine.sql(
            "SELECT CAST('2013-09-10' AS TIMESTAMP) AS bare,"
            " CAST('2013-09-10 ' AS TIMESTAMP) AS sp,"
            " CAST('2013-09-10 09:00:00.123456' AS TIMESTAMP) AS fr"
        ).first()
        assert r["bare"] is None
        assert r["sp"] == datetime.datetime(2013, 9, 10)
        assert r["fr"] == datetime.datetime(2013, 9, 10, 9, 0, 0, 123456)


class TestColumnCasts:
    """Runtime string-column casts route through the SQL chains when
    the column resolves to a string type in the attached schemas."""

    def test_string_column_to_date(self, engine):
        spark = engine.spark
        spark.createDataFrame(
            [("06/21/2015",), ("21-Jun-15",), ("2015-06-21",),
             ("1434844800",), ("junk",), (None,)],
            ["dstr"],
        ).createOrReplaceTempView("_cast_dates")
        rows = engine.sql(
            "SELECT CAST(dstr AS DATE) AS d FROM _cast_dates").collect()
        vals = [str(r["d"]) if r["d"] is not None else None for r in rows]
        assert vals == ["2015-06-21"] * 4 + [None, None]
        spark.catalog.dropTempView("_cast_dates")

    def test_string_function_to_timestamp(self, engine):
        r = engine.sql(
            "SELECT CAST(SUBSTRING('xx21/Aug/2015:12:13:14 -0600', 3, 30)"
            " AS TIMESTAMP) AS t").first()
        assert r["t"] == datetime.datetime(2015, 8, 21, 18, 13, 14)

    def test_string_column_to_time(self, engine):
        spark = engine.spark
        spark.createDataFrame(
            [("151315",), ("22:28:48+05:00",), ("9 pm",), ("22",)],
            ["tstr"],
        ).createOrReplaceTempView("_cast_times")
        rows = engine.sql(
            "SELECT CAST(tstr AS TIME) AS t FROM _cast_times").collect()
        assert [r["t"] for r in rows] == [54795, 62928, 75600, None]
        spark.catalog.dropTempView("_cast_times")

    def test_copy_from_csv_datetime_columns(self, engine, tmp_path):
        # the reference's CSV importer routes datetime cells through
        # dateTimeParse (ImportExport/Importer.cpp:561-622): COPY FROM
        # with a schema parses the format family, not just ISO
        p = tmp_path / "dts.csv"
        p.write_text(
            "d,ts,n\n"
            "06/21/2015,21-Jun-15 2:15:16 PM,1\n"
            "2015-06-21,1434896116,2\n"
            "10-Sep-99,2015-06-21:141516,3\n"
            "junk,junk,4\n"
        )
        from heavydb_spark.sources import copy_io

        df = copy_io.copy_from_csv(
            engine.spark, str(p), schema="d DATE, ts TIMESTAMP, n INT")
        rows = {r["n"]: r for r in df.collect()}
        assert str(rows[1]["d"]) == "2015-06-21"
        assert rows[1]["ts"] == datetime.datetime(2015, 6, 21, 14, 15, 16)
        assert str(rows[2]["d"]) == "2015-06-21"
        assert rows[2]["ts"] == datetime.datetime(2015, 6, 21, 14, 15, 16)
        assert str(rows[3]["d"]) == "1999-09-10"
        assert rows[3]["ts"] == datetime.datetime(2015, 6, 21, 14, 15, 16)
        assert rows[4]["d"] is None and rows[4]["ts"] is None
        # opt-out keeps Spark's CSV parsing
        df2 = copy_io.copy_from_csv(
            engine.spark, str(p), schema="d DATE, ts TIMESTAMP, n INT",
            datetime_parse="spark")
        rows2 = {r["n"]: r for r in df2.collect()}
        assert str(rows2[2]["d"]) == "2015-06-21"
        assert rows2[1]["d"] is None  # ISO-only reader

    def test_non_string_exprs_stay_native(self, engine):
        # date-typed and numeric casts keep Spark-native semantics
        r = engine.sql(
            "SELECT CAST(o_orderdate AS TIMESTAMP) AS t,"
            " CAST(CAST('2012-05-08 20:15:12' AS TIMESTAMP) AS DATE) AS d"
            " FROM orders LIMIT 1").first()
        assert r["t"] is not None
        assert str(r["d"]) == "2012-05-08"
