"""M6: SQL dialect, CLI, formatters; plus overlapping windows and
variant metrics (A9, M9)."""

import json

import pytest
from conftest import MIN, T0, rows_to_dict

from v3io_tsdb_spark.errors import BadRequest
from v3io_tsdb_spark.formatters import format_df
from v3io_tsdb_spark.querier import Querier, SelectParams
from v3io_tsdb_spark.sql.parser import parse_query, run_sql

HOUR = 3_600_000


def test_parse_query_shapes():
    p = parse_query("select avg(cpu), max(cpu) from tsdb where os=='linux' group by os")
    assert [c.function for c in p.columns] == ["avg", "max"]
    assert p.columns[0].metric == "cpu"
    assert p.filter == "os=='linux'" and p.group_by == "os"

    p2 = parse_query("select avg(prev_val(cpu, '10m')) as c from tsdb")
    assert p2.columns[0].interpolator == "prev_val"
    assert p2.columns[0].tolerance == "10m"
    assert p2.columns[0].alias == "c"

    p3 = parse_query("select * from tsdb")
    assert p3.wildcard

    with pytest.raises(BadRequest):
        parse_query("select cpu from a join b on x")
    with pytest.raises(BadRequest):
        parse_query("select avg(cpu), avg(cpu) from tsdb")
    with pytest.raises(BadRequest):
        parse_query("select nosuchfunc(cpu) from tsdb")


def test_run_sql_aggregates(spark, make_samples):
    df = make_samples(
        [
            ("cpu", {"os": "linux"}, [(0, 10), (1 * MIN, 20), (2 * MIN, 30), (3 * MIN, 40)]),
            ("mem", {"os": "linux"}, [(0, 5), (2 * MIN, 7)]),
        ]
    )
    q = Querier(spark, df)
    wide = run_sql(
        q, "select sum(cpu) as s, max(cpu), min(mem) from tsdb",
        from_time=T0, to_time=T0 + 10 * MIN, step="2m",
    )
    rows = {r["time"]: r for r in wide.collect()}
    assert rows[T0]["s"] == 30.0 and rows[T0]["max(cpu)"] == 20.0 and rows[T0]["min(mem)"] == 5.0
    assert rows[T0 + 2 * MIN]["s"] == 70.0 and rows[T0 + 2 * MIN]["min(mem)"] == 7.0


def test_run_sql_group_by(spark, make_samples):
    df = make_samples(
        [
            ("cpu", {"os": "linux"}, [(0, 10), (1 * MIN, 20)]),
            ("cpu", {"os": "mac"}, [(0, 30), (1 * MIN, 40)]),
        ]
    )
    q = Querier(spark, df)
    wide = run_sql(
        q, "select sum(cpu) as s from tsdb group by os",
        from_time=T0, to_time=T0 + 10 * MIN,
    )
    got = {r["os"]: r["s"] for r in wide.collect()}
    assert got == {"linux": 30.0, "mac": 70.0}


def test_overlapping_windows(spark, make_samples):
    # v1 SelectOverlap: one cell per window over (maxAligned-w*step, maxAligned)
    df = make_samples([("cpu", {}, [(i * HOUR, float(i)) for i in range(25)])])
    q = Querier(spark, df)
    res = q.select(
        SelectParams(
            name="cpu", functions="sum,count", step="1h",
            overlapping_windows=[1, 6, 24],
            from_time=T0, to_time=T0 + 24 * HOUR + 30 * MIN,
        )
    )
    # maxAligned = T0+24h (T0 is hour-aligned? T0=...21:40 NOT aligned)
    # T0 % 1h != 0, so maxAligned = floor((T0+24.5h)/1h)*1h = T0+24h-40m+... — compute directly:
    max_aligned = ((T0 + 24 * HOUR + 30 * MIN) // HOUR) * HOUR
    got = rows_to_dict(res, ["window"], ["sum", "count"])
    for w in (1, 6, 24):
        lo = max_aligned - w * HOUR
        expected = [float(i) for i in range(25) if lo < T0 + i * HOUR < max_aligned]
        assert got[w] == (sum(expected), len(expected)), f"window {w}"


def test_variant_metrics_raw(spark, make_samples):
    # FIXTURES §6: string metric series
    df = make_samples([("log", {"os": "linux"}, [(i * MIN, s) for i, s in enumerate("abcde")])])
    q = Querier(spark, df)
    res = q.select(SelectParams(name="log", from_time=T0, to_time=T0 + 10 * MIN))
    rows = sorted(res.collect(), key=lambda r: r["t"])
    assert [r["value_str"] for r in rows] == list("abcde")
    assert all(r["value"] is None for r in rows)
    # count covers variant samples; numeric aggregates stay empty
    agg = q.select(SelectParams(name="log", functions="count", step="1m", from_time=T0, to_time=T0 + 10 * MIN))
    assert sorted((r["t"], r["count"]) for r in agg.collect()) == [
        (T0 + i * MIN, 1) for i in range(5)
    ]


def test_variant_count_aggregation_golden(spark, make_samples):
    """Mirror of the reference's variant-count golden (ref:
    pqueriertest/variant_type_query_integration_test.go:177-245
    TestCountAggregationForVariantTypeQueryWithSeries): six string
    samples at t+0..5m, count with a 10m step over [t-1d, t+1d] →
    ONE series, ONE bucket, count == 6. The reference anchors buckets
    at its storage-partition start (its expected bucket lands at
    t-5m); this engine is partition-less and anchors at from_time —
    the golden's count/series/bucket-cardinality facts are mirrored,
    the anchor offset is the documented storage-detail divergence."""
    DAY = 24 * HOUR
    df = make_samples(
        [("log", {"os": "linux"}, [(i * MIN, s) for i, s in enumerate("abcdef")])]
    )
    q = Querier(spark, df)
    res = q.select(
        SelectParams(name="log", functions="count", step="10m",
                     from_time=T0 - DAY, to_time=T0 + DAY)
    )
    rows = res.collect()
    assert len(rows) == 1  # one series, one non-empty bucket
    assert rows[0]["count"] == 6
    # sum over the same variant series has no numeric inputs: the
    # bucket row exists (count dependency) but the sum is null
    s = q.select(
        SelectParams(name="log", functions="sum,count", step="10m",
                     from_time=T0 - DAY, to_time=T0 + DAY)
    ).collect()
    assert len(s) == 1 and s[0]["count"] == 6 and s[0]["sum"] is None


def test_formatters(spark, make_samples):
    df = make_samples([("cpu", {"os": "linux"}, [(0, 10), (1 * MIN, 20)])])
    q = Querier(spark, df)
    res = q.select(SelectParams(name="cpu", from_time=T0, to_time=T0 + 10 * MIN))
    txt = format_df(res, "text")
    assert "cpu" in txt
    csv = format_df(res.drop("labels"), "csv")
    # raw select is schema-stable: every variant kind column rides along
    assert csv.splitlines()[0] == (
        "name,series_id,t,value,value_str,value_bool,value_int,value_blob"
    )
    js = json.loads(format_df(res, "json"))
    assert js[0]["target"] == "cpu{os=linux}"
    assert [v for v, _ in js[0]["datapoints"]] == [10.0, 20.0]
    assert format_df(res, "none").startswith("2 rows")


def test_cli_end_to_end(tmp_path, spark, capsys):
    from v3io_tsdb_spark import cli

    path = str(tmp_path / "clidb")
    assert cli.main(["create", "-p", path, "--granularity", "1h"]) == 0
    csv_file = tmp_path / "in.csv"
    csv_file.write_text(
        f"cpu,os=linux,1.5,{T0}\ncpu,os=linux,2.5,{T0 + MIN}\nlog,os=linux,hello,{T0}\n"
    )
    assert cli.main(["add", "-p", path, "-f", str(csv_file)]) == 0
    assert cli.main([
        "query", "-p", path, "-m", "cpu", "--aggregates", "sum", "-i", "2m",
        "-a", str(T0), "-e", str(T0 + 10 * MIN), "-o", "csv",
    ]) == 0
    out = capsys.readouterr().out
    assert "4.0" in out  # sum of 1.5+2.5
    assert cli.main(["info", "-p", path, "-n"]) == 0
    assert "cpu" in capsys.readouterr().out
    assert cli.main(["check", "-p", path, "cpu", "--files", "--preview", "2"]) == 0
    out = capsys.readouterr().out
    assert "rows=2" in out and "os=linux" in out and "row_groups=" in out
    assert "sample ts=" in out
    assert cli.main(["delete", "-p", path, "-a", str(T0), "-e", str(T0 + 10 * MIN), "-m", "cpu"]) == 0
    assert cli.main(["query", "-p", path, "-m", "cpu", "-a", str(T0), "-e", str(T0 + 10 * MIN), "-o", "none"]) == 0
    assert capsys.readouterr().out.endswith("0 rows\n")


def test_cli_version(capsys):
    """`version` prints package + pyspark versions (ref:
    pkg/tsdbctl/version.go) — the 12th and last tsdbctl command twin."""
    from v3io_tsdb_spark import __version__, cli

    assert cli.main(["version"]) == 0
    out = capsys.readouterr().out.strip()
    assert out.startswith(f"v3io-tsdb-spark {__version__}")
    assert "pyspark" in out


def test_cli_time_and_sweep(tmp_path, spark, capsys):
    from v3io_tsdb_spark import cli

    assert cli.main(["time", "1537971020"]) == 0
    assert capsys.readouterr().out.strip() == "2018-09-26T14:10:20Z"
    assert cli.main(["time", "2018-09-26T14:10:20Z"]) == 0
    assert capsys.readouterr().out.strip() == "1537971020"
    assert cli.main(["time"]) == 0
    assert capsys.readouterr().out.strip().isdigit()

    path = str(tmp_path / "sweep_tsdb")
    assert cli.main(["create", "-p", path, "--retention-hours", "24"]) == 0
    capsys.readouterr()
    assert cli.main(["sweep", "-p", path]) == 0
    out = capsys.readouterr().out
    assert "samples" in out  # retention enabled → per-table report


def test_sql_aggregate_alias_golden(spark, make_samples):
    """Mirror of TestAggregateSeriesWithAlias (ref:
    pqueriertest/query_sql_integration_test.go:234-292):
    `select max(cpu) as iguaz` over one series → one output column
    named by the alias with the max value 40."""
    df = make_samples([("cpu", {"os": "linux"},
                        [(0, 10), (1 * MIN, 20), (2 * MIN, 30), (3 * MIN, 40)])])
    q = Querier(spark, df)
    out = run_sql(q, "select max(cpu) as iguaz from tsdb",
                  from_time=T0, to_time=T0 + 10 * MIN)
    assert "iguaz" in out.columns and "max(cpu)" not in out.columns
    rows = out.collect()
    assert len(rows) == 1 and rows[0]["iguaz"] == 40.0


def _star_fixture(spark, make_samples):
    return make_samples(
        [
            ("cpu", {"os": "linux"}, [(i * MIN, 10.0 * (i + 1)) for i in range(4)]),
            ("diskio", {"os": "linux"}, [(i * MIN, 10.0 * (i + 1)) for i in range(4)]),
        ]
    )


def test_sql_function_over_wildcard_golden(spark, make_samples):
    """Mirror of TestAggregateSeriesWildcardOnPartOfTheColumns (ref:
    pqueriertest/query_sql_integration_test.go:293-347): ``max(*)`` is
    a column template applying to EVERY metric in the response, while
    ``min(cpu)`` stays scoped — expected {max(cpu):40, max(diskio):40,
    min(cpu):10} and no min(diskio) column."""
    from v3io_tsdb_spark.sql.parser import run_sql

    q = Querier(spark, _star_fixture(spark, make_samples))
    out = run_sql(q, "select max(*), min(cpu)", from_time=T0, to_time=T0 + 4 * MIN)
    assert sorted(out.columns) == ["max(cpu)", "max(diskio)", "min(cpu)", "time"]
    r = out.collect()[0]
    assert (r["max(cpu)"], r["max(diskio)"], r["min(cpu)"]) == (40.0, 40.0, 10.0)


def test_sql_virtual_function_over_wildcard_golden(spark, make_samples):
    """Mirror of ...WildcardOnPartOfTheColumnsWithVirtualColumn (ref:
    query_sql_integration_test.go:348-420): a DERIVED aggregate over the
    wildcard (avg = sum/count) — expected {avg(cpu):25, avg(diskio):25,
    min(cpu):10}."""
    from v3io_tsdb_spark.sql.parser import run_sql

    q = Querier(spark, _star_fixture(spark, make_samples))
    out = run_sql(q, "select avg(*), min(cpu)", from_time=T0, to_time=T0 + 4 * MIN)
    assert sorted(out.columns) == ["avg(cpu)", "avg(diskio)", "min(cpu)", "time"]
    r = out.collect()[0]
    assert (r["avg(cpu)"], r["avg(diskio)"], r["min(cpu)"]) == (25.0, 25.0, 10.0)


def test_cli_str_to_tv_goldens():
    """Mirror of pkg/tsdbctl/add_test.go:37-73 strToTV scenarios."""
    import math

    from v3io_tsdb_spark.cli import _str_to_tv
    from v3io_tsdb_spark.errors import TSDBError

    ts, vs = _str_to_tv("1533814796000,1533894796000", "10.1,202")
    assert ts == [1533814796000, 1533894796000] and vs == [10.1, 202.0]
    ts, vs = _str_to_tv("1533814796000,1533894796000,1533899796000", "NaN,Inf,-Inf")
    assert math.isnan(vs[0]) and vs[1] == math.inf and vs[2] == -math.inf
    with pytest.raises(TSDBError):  # invalid value
        _str_to_tv("1,2,3", "1.2,5,z")
    with pytest.raises(TSDBError):  # invalid time
        _str_to_tv("1533814796000,1533894796000,abc", "1.2,5,5.1")
    with pytest.raises(TSDBError):  # count mismatch
        _str_to_tv("1,2", "1.0")


def test_cli_multi_sample_add_and_delete_all_conflicts(tmp_path, spark, capsys):
    """Multi-value add lands every sample; delete --all conflicts with
    --begin/--filter with the reference's exact error messages (ref:
    pkg/tsdbctl/delete_test.go:32-49)."""
    from v3io_tsdb_spark import cli

    path = str(tmp_path / "clidb2")
    assert cli.main(["create", "-p", path, "--granularity", "1h"]) == 0
    assert cli.main([
        "add", "-p", path, "cpu", "os=linux",
        "-d", "10.1,202", "-t", f"{T0},{T0 + MIN}",
    ]) == 0
    assert cli.main([
        "query", "-p", path, "-m", "cpu",
        "-a", str(T0), "-e", str(T0 + 10 * MIN), "-o", "json",
    ]) == 0
    out = capsys.readouterr().out
    assert "10.1" in out and "202" in out
    assert cli.main(["delete", "-p", path, "--all", "-a", "123", "--force"]) != 0
    err = capsys.readouterr()
    assert "cannot be used in conjunction with --begin" in err.out + err.err
    assert cli.main(["delete", "-p", path, "--all", "-f", "x==1", "--force"]) != 0
    err = capsys.readouterr()
    assert "cannot be used in conjunction with --filter" in err.out + err.err


def test_cli_single_string_variant_with_comma(tmp_path, spark, capsys):
    """ADVICE r6: a single STRING variant value containing a comma
    (-d "a,b") must take the value_str path, not die in the
    multi-sample float parser."""
    from v3io_tsdb_spark import cli

    path = str(tmp_path / "clidb3")
    assert cli.main(["create", "-p", path, "--granularity", "1h"]) == 0
    assert cli.main([
        "add", "-p", path, "tag", "os=linux", "-d", "a,b", "-t", str(T0),
    ]) == 0
    assert cli.main([
        "query", "-p", path, "-m", "tag",
        "-a", str(T0 - MIN), "-e", str(T0 + MIN), "-o", "json",
    ]) == 0
    out = capsys.readouterr().out
    assert "a,b" in out


def test_sql_dialect_extensions_order_by_limit(spark, make_samples):
    """VERDICT r6 #8: extensions=True accepts trailing ORDER BY/LIMIT
    over the output frame; the default stays reference-faithful and
    rejects them (sql_parser.go rejects both)."""
    from v3io_tsdb_spark.errors import BadRequest
    from v3io_tsdb_spark.sql.parser import parse_query, run_sql

    df = make_samples(
        [("cpu", {"os": "linux"},
          [(0, 10), (1 * MIN, 20), (10 * MIN, 30), (11 * MIN, 40)])]
    )
    q = Querier(spark, df)
    sql = "select avg(cpu) from tsdb order by time desc limit 2"
    # default: rejected, with a hint
    with pytest.raises(BadRequest, match="ORDER BY is not supported"):
        run_sql(q, sql, from_time=T0, to_time=T0 + 30 * MIN, step="2m")
    # extensions: parsed and applied
    p = parse_query(sql, extensions=True)
    assert p.order_by == [("time", True)] and p.limit == 2
    out = run_sql(q, sql, extensions=True,
                  from_time=T0, to_time=T0 + 30 * MIN, step="2m").collect()
    assert len(out) == 2
    ts = [r["time"] for r in out]
    assert ts == sorted(ts, reverse=True) and ts[0] == T0 + 10 * MIN
    # unknown ORDER BY column is a clear error, not a Spark stack trace
    with pytest.raises(BadRequest, match="not in result"):
        run_sql(q, "select avg(cpu) from tsdb order by nope",
                extensions=True, from_time=T0, to_time=T0 + 30 * MIN, step="2m")


def test_parse_query_reference_goldens():
    """Mirror of pkg/pquerier/sql_parser_test.go TestParseQuery /
    TestNegativeParseQuery cases not covered elsewhere."""
    # FROM-less multi-column
    p = parse_query("select columnA, columnB")
    assert [c.metric for c in p.columns] == ["columnA", "columnB"]
    # interp-only column with tolerance
    p = parse_query("select linear(columnA, '10m')")
    assert p.columns[0].interpolator == "linear"
    assert p.columns[0].tolerance == "10m" and p.columns[0].function == ""
    # quoted slash table path (TestParseQuery `from 'my/table'`)
    p = parse_query("select * from 'my/table'")
    assert p.table == "my/table" and p.wildcard
    # bare table name
    assert parse_query("select min(columnA) from my_table").table == "my_table"
    # multi group-by with trailing space
    p = parse_query(
        "select min(columnA) as bambi, max(linear(columnB)) as bimba "
        "where columnB >= 123 group by columnB,columnC "
    )
    assert p.group_by == "columnB,columnC"
    assert p.columns[1].alias == "bimba" and p.columns[1].interpolator == "linear"
    # negatives (TestNegativeParseQuery)
    with pytest.raises(BadRequest, match="duplicate alias"):
        parse_query("select columnA as something, columnB as something")
    with pytest.raises(BadRequest, match="duplicate alias"):
        parse_query("select avg(columnA) as something, columnB as something")
    with pytest.raises(BadRequest, match="alias a '\\*'"):
        parse_query("select avg(*) as something")
    with pytest.raises(BadRequest, match="shadows"):
        parse_query("select avg(cpu), max(cpu) as cpu")


def test_cli_compact(tmp_path, spark, capsys):
    from v3io_tsdb_spark import cli
    from v3io_tsdb_spark.tablelog import TableLog

    path = str(tmp_path / "cli_compact_db")
    assert cli.main(["create", "-p", path, "--granularity", "1h"]) == 0
    csv_file = tmp_path / "cc.csv"
    csv_file.write_text(
        "cpu,host=a,1.5,1704067200000\ncpu,host=a,2.5,1704067260000\n"
    )
    assert cli.main(["add", "-p", path, "-f", str(csv_file)]) == 0
    before = TableLog(path)
    before.refresh()
    for _ in range(2):
        assert cli.main(["compact", "-p", path]) == 0
        assert "compacted samples + rollup" in capsys.readouterr().out
    after = TableLog(path)
    after.refresh()
    # each compaction of each table is one log commit
    assert after.version == before.version + 4
    # data survives both compactions
    rc = cli.main(["query", "-p", path, "-m", "cpu",
                   "-a", "1704067200000", "-e", "1704070800000", "-o", "csv"])
    assert rc == 0
    assert "2.5" in capsys.readouterr().out
