"""r10 StringOps parity pins — the classes the StringFunctionsTest
comparator (scripts/string_functions_probe.py, removed after commit
e45d69f) surfaced, each pinned with the reference's own expected values.

References: StringOps/StringOps.h:42 (NullableStrType empty rule),
StringOps.cpp:905-955 (UrlEncode/UrlDecode), StringOps.cpp
Hash::numericEval (cyrb53), Position::numericEval (find semantics),
Tests/StringFunctionsTest.cpp expectations quoted per test, and
Tests/ExecuteTest.cpp's ignore-frame-without-order-by rule.
"""
def test_empty_stringop_results_are_null(engine):
    # StringFunctionsTest lcase/ucase/left/right/mid/space/substr Null
    # expectations: every string-op result that is '' nullifies
    r = engine.sql(
        "SELECT lcase('') AS a, ucase('') AS b, left('abcdef', 0) AS c, "
        "left('abcdef', -2) AS d, left('', 2) AS e, right('abcdef', 0) AS f, "
        "space(0) AS g, substr('', 3, 5) AS h, mid('', 4) AS i, "
        "repeat('ab', 2) AS j, lower('AbC') AS k"
    ).first()
    for col in "abcdefghi":
        assert r[col] is None, col
    assert r["j"] == "abab"
    assert r["k"] == "abc"


def test_trim_set_semantics_and_arg_order(engine):
    # StringFunctionsTest LeftTrimTwoArgsSyntax / RightTrim /
    # LeftTrimLiteral / RightTrimLiteral: (str, trim_chars) order
    r = engine.sql(
        "SELECT ltrim('>>US<<', '<>#') AS a, rtrim('>>US<<', '<> ') AS b, "
        "ltrim('$19.99$', '$') AS c, rtrim('|half pipe||', '|') AS d, "
        "trim(both '<>' from '>>US<<') AS e, "
        "trim(leading '<>#' from '>>US<<') AS f"
    ).first()
    assert r["a"] == "US<<"
    assert r["b"] == ">>US"
    assert r["c"] == "19.99$"
    assert r["d"] == "|half pipe"
    assert r["e"] == "US"
    assert r["f"] == "US<<"


def test_position_empty_needle(engine):
    # Position::numericEval: find('', p) == p when p <= len (1-based
    # result p+1 keyed off the wrapped 0-based start); NULL hay -> NULL
    r = engine.sql(
        "SELECT position('' IN 'abcdef') AS a, "
        "position('' IN 'abcdef' FROM 3) AS b, "
        "position('' IN 'abcdef' FROM 7) AS c, "
        "position('' IN 'abcdef' FROM 8) AS d, "
        "position('' IN CAST(NULL AS STRING) FROM 3) AS e"
    ).first()
    assert r["a"] == 1
    assert r["b"] == 3
    assert r["c"] == 7
    assert r["d"] == 0
    assert r["e"] is None


def test_hash_cyrb53(engine):
    # StringFunctionsTest.Hash expected values (front-end cyrb53)
    r = engine.sql(
        "SELECT hash('hi') AS a, hash('Washington') AS b, "
        "hash('Washington', 42) AS c, hash(CAST(NULL AS STRING)) AS d"
    ).first()
    assert r["a"] == 4295414792258359
    assert r["b"] == 7193978419178118
    assert r["c"] == 4498609078139538
    assert r["d"] is None


def test_url_form_encoding(engine):
    # UrlEncodeTest.WhitespaceAndExclamationMark: space -> '+',
    # '!' -> %21; decode inverts; '' input -> NULL
    r = engine.sql(
        "SELECT url_encode('Hello World!') AS a, "
        "url_decode('Hello+World%21') AS b, url_encode('') AS c"
    ).first()
    assert r["a"] == "Hello+World%21"
    assert r["b"] == "Hello World!"
    assert r["c"] is None


def test_regexp_count_null_propagation(engine):
    r = engine.sql(
        "SELECT REGEXP_COUNT(CAST(NULL AS STRING), 'u', 0, 'i') AS a, "
        "REGEXP_COUNT('wood would wood', 'wo[[:alnum:]]+d', 1, 'i') AS b"
    ).first()
    assert r["a"] is None
    assert r["b"] == 3


def test_regexp_replace_posix_and_occurrence(engine):
    # StringFunctionsTest RegexpReplaceLiteral(SpecificMatch)
    s = ("'How much wood would a wood chuck chuck if a wood chuck "
         "could chuck wood?'")
    r = engine.sql(
        f"SELECT regexp_replace({s}, 'wo[[:alnum:]]+d', 'metal', 1, 0, 'i')"
        f" AS a, regexp_replace({s}, 'wo[[:alnum:]]+d', 'should', 1, 2, "
        f"'i') AS b"
    ).first()
    assert r["a"] == ("How much metal metal a metal chuck chuck if a "
                      "metal chuck could chuck metal?")
    assert r["b"] == ("How much wood should a wood chuck chuck if a "
                      "wood chuck could chuck wood?")


def test_rows_frame_without_order_by_ignored(engine):
    # ExecuteTest: 'in row mode, we ignore user-given frame bound if
    # order-by clause is missing' -> whole-partition frame
    rows = engine.sql(
        "SELECT x, MIN(y) OVER (PARTITION BY x "
        "ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS mn "
        "FROM (VALUES (1, 10), (1, 20), (1, 30), (2, 5)) AS t(x, y) "
        "ORDER BY x, mn"
    ).collect()
    assert [(r["x"], r["mn"]) for r in rows] == [(1, 10), (1, 10),
                                                 (1, 10), (2, 5)]


def test_approx_median_interpolates(engine):
    # ExecuteTest pairs APPROX_MEDIAN against SQLite MEDIAN: the
    # reference's t-digest interpolates (7.5 on an even split)
    r = engine.sql(
        "SELECT APPROX_MEDIAN(v) AS m FROM "
        "(VALUES (7), (7), (7), (7), (7), (8), (8), (8), (8), (8)) "
        "AS t(v)"
    ).first()
    assert float(r["m"]) == 7.5


def test_split_part_empty_part_is_null(engine):
    # empty SPLIT_PART result nullifies like every string op
    r = engine.sql(
        "SELECT SPLIT_PART('a..b', '.', 2) AS a, "
        "SPLIT_PART('a.c.b', '.', 2) AS b"
    ).first()
    assert r["a"] is None
    assert r["b"] == "c"


def test_concat_array_args_pass_through(engine):
    # r10 judge probe: the empty-string nullify wrap is type-gated —
    # Spark's array-concat superset form must not become
    # nullif(<array>, '') (DATATYPE_MISMATCH).  String CONCAT keeps
    # the NullableStrType empty rule.
    r = engine.sql(
        "SELECT CONCAT(ARRAY[1, 2], ARRAY[3]) AS a, "
        "CONCAT('', '') AS b, CONCAT('a', 'b') AS c, "
        "REVERSE(ARRAY[1, 2, 3]) AS d"
    ).first()
    assert list(r["a"]) == [1, 2, 3]
    assert r["b"] is None
    assert r["c"] == "ab"
    assert list(r["d"]) == [3, 2, 1]


def test_concat_array_column_pass_through(engine):
    # bare array-typed COLUMN argument resolves through
    # type_of.is_array (embeddings.embedding is array<float|double>)
    r = engine.sql(
        "SELECT size(CONCAT(embedding, ARRAY[CAST(0.0 AS FLOAT)])) AS n, "
        "size(embedding) AS m FROM embeddings LIMIT 1"
    ).first()
    assert r["n"] == r["m"] + 1
