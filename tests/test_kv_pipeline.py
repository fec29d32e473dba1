"""KVDataset facade + Pipeline (JobControl analogue) unit tests."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from hadoop_2_7_1_spark.functions import tokenize
from hadoop_2_7_1_spark.io import load_table
from hadoop_2_7_1_spark.kv import kv
from hadoop_2_7_1_spark.plans import Pipeline

from .conftest import SF_DIR


def test_kv_wordcount_matches_q01(spark):
    docs = load_table(spark, SF_DIR, "documents")
    counts = (
        kv(docs, F.col("doc_id"), F.col("text"))
        .flat_map_values(tokenize("value"))
        .filter(F.col("value") != "")
        .map_kv(F.col("value"), F.lit(1))
        .reduce_by_key(F.count("*").cast("bigint"), "cnt")
        .to_df()
    )
    from hadoop_2_7_1_spark.queries import REGISTRY

    q01 = REGISTRY["q01_wordcount"].fn(spark, SF_DIR)
    a = {(r["key"], r["cnt"]) for r in counts.collect()}
    b = {(r["word"], r["cnt"]) for r in q01.collect()}
    assert a == b


def test_kv_group_sorted(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    g = (
        kv(li, F.col("l_orderkey"), F.col("l_linenumber"))
        .group_sorted("value")
        .collect()
    )
    for row in g[:50]:
        assert row["values"] == sorted(row["values"])


def test_pipeline_dag_order_and_results(spark):
    ran: list[str] = []

    def mk(name, dep_count):
        def fn(s, deps):
            ran.append(name)
            assert len(deps) == dep_count
            return s.range(5)

        return fn

    p = (
        Pipeline()
        .add("a", mk("a", 0), materialize=True)
        .add("b", mk("b", 1), deps=["a"])
        .add("c", mk("c", 2), deps=["a", "b"])
    )
    out = p.run(spark)
    assert ran.index("a") < ran.index("b") < ran.index("c")
    assert set(out) == {"a", "b", "c"}


def test_pipeline_cycle_rejected(spark):
    p = Pipeline().add("x", lambda s, d: None, deps=["y"]).add("y", lambda s, d: None, deps=["x"])
    with pytest.raises(ValueError, match="cycle"):
        p.run(spark)


def test_pipeline_failure_names_stage(spark):
    def boom(s, d):
        raise RuntimeError("inner")

    p = Pipeline().add("bad", boom)
    with pytest.raises(RuntimeError, match="stage 'bad' failed"):
        p.run(spark)


def test_streaming_cli_wordcount(spark, tmp_path):
    """Entry point 2 parity: -mapper/-reducer pipeline == the classic
    'hadoop-streaming wordcount' (tr + uniq -c shape done with awk)."""
    import glob

    from hadoop_2_7_1_spark import cli

    src = tmp_path / "in.txt"
    src.write_text("b a\na b\nc a\n")
    out = str(tmp_path / "out")
    cli.run(
        [
            "-input", str(src),
            "-output", out,
            "-mapper", "awk '{for(i=1;i<=NF;i++) print $i\"\\t\"1}'",
            "-reducer", "awk -F'\\t' '{c[$1]+=$2} END {for(k in c) print k\"\\t\"c[k]}'",
            "-numReduceTasks", "4",
        ],
        spark=spark,
    )
    counts = {}
    for f in glob.glob(out + "/part-*"):
        for line in open(f):
            if line.strip():
                k, v = line.strip().split("\t")
                counts[k] = counts.get(k, 0) + int(v)
    assert counts == {"a": 3, "b": 2, "c": 1}


def _read_kv_output(out_dir):
    import glob

    rows = []
    for f in sorted(glob.glob(out_dir + "/part-*")):
        for line in open(f):
            if line.strip():
                rows.append(tuple(line.rstrip("\n").split("\t")))
    return rows


def test_streaming_cli_files_and_cmdenv(spark, tmp_path):
    """The documented python-script invocation (HadoopStreaming.md.vm:101):
    -files ships mapper.py/reducer.py into the task working directory;
    -cmdenv reaches the subprocess environment."""
    mapper = tmp_path / "wc_mapper.py"
    mapper.write_text(
        "import os, sys\n"
        "mark = os.environ['WC_MARK']\n"
        "for line in sys.stdin:\n"
        "    for w in line.split():\n"
        "        print(f'{mark}{w}\\t1')\n"
    )
    reducer = tmp_path / "wc_reducer.py"
    reducer.write_text(
        "import sys\n"
        "cur, tot = None, 0\n"
        "for line in sys.stdin:\n"
        "    k, v = line.rstrip('\\n').split('\\t')\n"
        "    if k != cur:\n"
        "        if cur is not None: print(f'{cur}\\t{tot}')\n"
        "        cur, tot = k, 0\n"
        "    tot += int(v)\n"
        "if cur is not None: print(f'{cur}\\t{tot}')\n"
    )
    src = tmp_path / "in.txt"
    src.write_text("hello world\nhello streaming\n")
    out = str(tmp_path / "out_files")

    from hadoop_2_7_1_spark import cli

    cli.run(
        [
            "-input", str(src),
            "-output", out,
            "-files", str(mapper),
            "-files", str(reducer),
            "-cmdenv", "WC_MARK=m_",
            "-mapper", "python3 wc_mapper.py",
            "-reducer", "python3 wc_reducer.py",
            "-numReduceTasks", "2",
        ],
        spark=spark,
    )
    counts = dict(_read_kv_output(out))
    assert counts == {"m_hello": "2", "m_world": "1", "m_streaming": "1"}


def test_streaming_cli_archives(spark, tmp_path):
    """-archives (ST/StreamJob.java flag table): a .har built by the engine
    and a .zip are unpacked into the task working directory under their
    #alias, so the mapper runs scripts and reads side data out of the
    archive exactly like reference archive localization."""
    import zipfile

    from hadoop_2_7_1_spark import cli
    from hadoop_2_7_1_spark.sources.har import har_create

    # .har payload: mapper script + stopword side file
    tree = tmp_path / "tree"
    tree.mkdir()
    (tree / "mapper.py").write_text(
        "import sys\n"
        "stop = set(open('pkg/stop.txt').read().split())\n"
        "tag = open('zside/tag.txt').read().strip()\n"
        "for line in sys.stdin:\n"
        "    for w in line.split():\n"
        "        if w not in stop:\n"
        "            print(f'{tag}{w}\\t1')\n"
    )
    (tree / "stop.txt").write_text("the a\n")
    har = str(tmp_path / "pkg.har")
    har_create(spark, str(tree), har)

    # .zip payload: the tag file, under a different alias
    zpath = tmp_path / "side.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("tag.txt", "t_")

    src = tmp_path / "in.txt"
    src.write_text("the quick fox\na quick dog\n")
    out = str(tmp_path / "out_archives")
    cli.run(
        [
            "-input", str(src),
            "-output", out,
            "-archives", f"{har}#pkg",
            "-archives", f"{zpath}#zside",
            "-mapper", "python3 pkg/mapper.py",
            "-reducer", "NONE",
            "-numReduceTasks", "0",
        ],
        spark=spark,
    )
    words = sorted(k for k, _ in _read_kv_output(out))
    assert words == ["t_dog", "t_fox", "t_quick", "t_quick"]


def test_streaming_cli_aggregate_reducer(spark, tmp_path):
    """'-reducer aggregate' (ValueAggregatorReducer): mapper emits
    Type:key<TAB>value records, framework folds them."""
    src = tmp_path / "in.txt"
    src.write_text("x x y\nx z\n")
    out = str(tmp_path / "out_agg")

    from hadoop_2_7_1_spark import cli

    cli.run(
        [
            "-input", str(src),
            "-output", out,
            "-mapper", "awk '{for(i=1;i<=NF;i++) print \"LongValueSum:\"$i\"\\t\"1}'",
            "-reducer", "aggregate",
            "-numReduceTasks", "2",
        ],
        spark=spark,
    )
    counts = dict(_read_kv_output(out))
    assert counts == {"x": "3", "y": "1", "z": "1"}


def test_streaming_cli_keyfield_separators(spark, tmp_path):
    """The documented separator/key-field configs: 2-field keys via
    stream.num.map.output.key.fields, partitioning on the primary key field
    via keypartitioner.options, numeric-reverse secondary sort via
    keycomparator.options (HadoopStreaming.md.vm:232-264)."""
    src = tmp_path / "in.txt"
    src.write_text("a.2\na.10\nb.1\na.1\nb.3\n")
    out = str(tmp_path / "out_kf")

    from hadoop_2_7_1_spark import cli

    cli.run(
        [
            "-input", str(src),
            "-output", out,
            # mapper rewrites a.N -> "a<TAB>N<TAB>_" : 2-field key + value
            "-mapper", "awk -F'.' '{print $1\"\\t\"$2\"\\t_\"}'",
            "-D", "stream.num.map.output.key.fields=2",
            "-D", "mapreduce.partition.keypartitioner.options=-k1,1",
            "-D", "mapreduce.partition.keycomparator.options=-k1,1 -k2,2nr",
            "-partitioner", "KeyFieldBasedPartitioner",
            "-numReduceTasks", "2",
        ],
        spark=spark,
    )
    rows = _read_kv_output(out)
    # all rows of one primary key land in one partition, ordered N desc
    by_primary = {}
    for k1, k2, _ in rows:
        by_primary.setdefault(k1, []).append(int(k2))
    assert by_primary["a"] == [10, 2, 1]
    assert by_primary["b"] == [3, 1]


def test_streaming_cli_map_only_and_seq_output(spark, tmp_path):
    """-reducer NONE -> map-only job; -outputformat seq writes a
    SequenceFile readable by the Hadoop reader."""
    from hadoop_2_7_1_spark import cli
    from hadoop_2_7_1_spark.sources import seqfile

    src = tmp_path / "in.txt"
    src.write_text("one\ntwo\n")
    out = str(tmp_path / "out_seq")
    cli.run(
        [
            "-input", str(src),
            "-output", out,
            "-mapper", "awk '{print toupper($0)\"\\tv\"}'",
            "-reducer", "NONE",
            "-outputformat", "seq",
        ],
        spark=spark,
    )
    back = seqfile.read_sequence_file(spark, out)
    assert sorted((r.key, r.value) for r in back.collect()) == [
        ("ONE", "v"),
        ("TWO", "v"),
    ]


def test_streaming_cli_combiner_and_multi_input(spark, tmp_path):
    """-combiner runs map-side over key-grouped streams; repeated -input
    unions sources (MultipleInputs)."""
    a = tmp_path / "a.txt"
    a.write_text("p p q\n")
    b = tmp_path / "b.txt"
    b.write_text("q r\n")
    out = str(tmp_path / "out_comb")

    from hadoop_2_7_1_spark import cli

    cli.run(
        [
            "-input", str(a),
            "-input", str(b),
            "-output", out,
            "-mapper", "awk '{for(i=1;i<=NF;i++) print $i\"\\t\"1}'",
            "-combiner", "awk -F'\\t' '{c[$1]+=$2} END {for(k in c) print k\"\\t\"c[k]}'",
            "-reducer", "awk -F'\\t' '{c[$1]+=$2} END {for(k in c) print k\"\\t\"c[k]}'",
            "-numReduceTasks", "2",
        ],
        spark=spark,
    )
    counts = {}
    for k, v in _read_kv_output(out):
        counts[k] = counts.get(k, 0) + int(v)
    assert counts == {"p": 2, "q": 2, "r": 1}


def test_streaming_cli_map_only_via_D_reduces_zero(spark, tmp_path):
    """-D mapreduce.job.reduces=0 is the documented map-only switch; it must
    behave exactly like -reducer NONE (no shuffle, no crash)."""
    src = tmp_path / "in.txt"
    src.write_text("b\na\n")
    out = str(tmp_path / "out_d0")

    from hadoop_2_7_1_spark import cli

    cli.run(
        [
            "-input", str(src),
            "-output", out,
            "-mapper", "awk '{print $0\"\\tm\"}'",
            "-D", "mapreduce.job.reduces=0",
        ],
        spark=spark,
    )
    assert sorted(_read_kv_output(out)) == [("a", "m"), ("b", "m")]


def test_streaming_cli_combiner_kv_input_no_mapper(spark, tmp_path):
    """Combiner with a kv source and no mapper: the post-combiner column
    names (key/value) must be used for the shuffle, not the source's."""
    src = tmp_path / "in.tsv"
    src.write_text("k1\t1\nk1\t2\nk2\t3\n")
    out = str(tmp_path / "out_kvcomb")

    from hadoop_2_7_1_spark import cli

    cli.run(
        [
            "-input", str(src),
            "-output", out,
            "-inputformat", "kv",
            "-combiner", "awk -F'\\t' '{c[$1]+=$2} END {for(k in c) print k\"\\t\"c[k]}'",
            "-reducer", "awk -F'\\t' '{c[$1]+=$2} END {for(k in c) print k\"\\t\"c[k]}'",
            "-numReduceTasks", "2",
        ],
        spark=spark,
    )
    counts = {}
    for k, v in _read_kv_output(out):
        counts[k] = counts.get(k, 0) + int(v)
    assert counts == {"k1": 3, "k2": 3}


def test_streaming_cli_seq_inputformat(spark, tmp_path):
    """-inputformat seq: native-typed SequenceFile source into the pipeline."""
    from hadoop_2_7_1_spark import cli
    from hadoop_2_7_1_spark.sources import seqfile

    df = spark.createDataFrame([("a", "1"), ("b", "2")], ["k", "v"])
    seq = str(tmp_path / "seqin")
    seqfile.write_sequence_file(df, seq, "k", "v")
    out = str(tmp_path / "out_seqin")
    cli.run(
        [
            "-input", seq,
            "-output", out,
            "-inputformat", "seq",
            "-numReduceTasks", "2",
        ],
        spark=spark,
    )
    assert sorted(_read_kv_output(out)) == [("a", "1"), ("b", "2")]


def test_streaming_cli_xml_inputreader(spark, tmp_path):
    """-inputreader "StreamXmlRecordReader,begin=...,end=..."
    (ST/StreamJob.java flag surface; reader semantics
    ST/StreamXmlRecordReader.java:40): records span line boundaries and
    feed the mapper pipe as whole units."""
    src = tmp_path / "in.xml"
    src.write_text(
        "<doc>\n<title>alpha</title>\n</doc>junk between records"
        "<doc><title>beta</title></doc>\n<doc><title>gamma</title></doc>"
    )
    out = str(tmp_path / "xmlout")

    from hadoop_2_7_1_spark import cli

    cli.run(
        [
            "-input", str(src),
            "-output", out,
            "-inputreader", "StreamXmlRecordReader,begin=<doc>,end=</doc>",
            # one record per <doc> span; extract the title as the key
            "-mapper",
            "sed -n 's/.*<title>\\(.*\\)<\\/title>.*/\\1\\t1/p'",
            "-numReduceTasks", "0",
        ],
        spark=spark,
    )
    rows = _read_kv_output(out)
    assert sorted(r[0] for r in rows) == ["alpha", "beta", "gamma"]


def test_streaming_cli_xml_inputformat_alias(spark, tmp_path):
    """-inputformat StreamInputFormat with the default record tags."""
    src = tmp_path / "r.xml"
    src.write_text("<record>one</record><record>two</record>")
    out = str(tmp_path / "xmlout2")

    from hadoop_2_7_1_spark import cli

    cli.run(
        ["-input", str(src), "-output", out,
         "-inputformat", "StreamInputFormat", "-numReduceTasks", "0"],
        spark=spark,
    )
    rows = _read_kv_output(out)
    assert sorted(r[0] for r in rows) == ["<record>one</record>", "<record>two</record>"]

