"""End-to-end pipeline parity with the reference smoke test.

Reproduces service_test.go:81-127 semantics: 3 ndjson files (2 valid + 1
corrupt line; 2 valid; 1 empty), Log1→Log2 transform, <mod:2>_<file>
routing, meta ledger with 4 processed records + 1 decode error whose
message contains the corrupt line, idempotent re-run (meta skip), and the
datastore(csv)→storage path of service_test.go:129-172.
"""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StringType, StructField, StructType

from etly_spark import registry
from etly_spark.config import TransferConfig
from etly_spark.meta import Meta
from etly_spark.pipeline import DONE, NOOP, TransferService
from etly_spark.templates import fnv64

LOG1 = StructType(
    [
        StructField("Id", LongType()),
        StructField("Name", StringType()),
        StructField("Type", StringType()),
    ]
)

if "test.Log1" not in registry.schemas:
    registry.schemas.register("test.Log1", LOG1)

    @registry.transformers.register("test.Log1ToLog2")
    def log1_to_log2(df):
        # service_test.go:46-52: Key = Id, Value = Name + "/" + Type
        return [
            F.col("Id").alias("Key"),
            F.concat_ws("/", F.col("Name"), F.col("Type")).alias("Value"),
        ]

    registry.schemas.register(
        "test.AppLog1",
        StructType(
            [
                StructField("APP_ID", StringType()),
                StructField("NAME", StringType()),
                StructField("URL", StringType()),
            ]
        ),
    )

    @registry.transformers.register("test.AppLog1ToLog2")
    def applog1_to_log2(df):
        # service_test.go:54-65: string→int cast + payload carry
        return [
            F.col("APP_ID").cast("long").alias("AppId"),
            F.col("NAME").alias("Name"),
            F.col("URL").alias("URL"),
            F.col("__raw__").alias("Payload"),
        ]


@pytest.fixture()
def workdir(tmp_path):
    src = tmp_path / "in"
    src.mkdir()
    (src / "file1.log").write_text(
        '{"Id":1,"Name":"test1","Type":"a"}\n'
        '{"werwe:\n'
        '{"Id":2,"Name":"test2","Type":"b"}\n'
    )
    (src / "file2.log").write_text(
        '{"Id":3,"Name":"test3","Type":"a"}\n'
        '{"Id":4,"Name":"test4","Type":"b"}\n'
    )
    (src / "emptyfile.log").write_text("")
    (tmp_path / "out").mkdir()
    return tmp_path


def make_config(tmp_path) -> TransferConfig:
    cfg = {
        "Transfers": [
            {
                "Name": "smoke",
                "Source": {
                    "Name": "file://<pwd>in",
                    "Type": "url",
                    "DataFormat": "ndjson",
                    "DataType": "test.Log1",
                },
                "Target": {
                    "Name": "file://<pwd>out/<mod:2>_<file>",
                    "Type": "url",
                    "DataFormat": "ndjson",
                },
                "Meta": {"Name": "file://<pwd>out/meta.json"},
                "Transformer": "test.Log1ToLog2",
                "MaxParallelTransfers": 2,
                "MaxTransfers": 10,
            }
        ]
    }
    path = tmp_path / "transfer.json"
    path.write_text(json.dumps(cfg))
    return TransferConfig.from_json(str(path))


def test_url_pipeline_end_to_end(spark, workdir):
    cfg = make_config(workdir)
    svc = TransferService(spark)
    result = svc.run(cfg.transfers[0])
    assert result.status == DONE, result.error

    # bucketed 1:1 outputs exist (service_test.go:120-123)
    b1 = fnv64("file1.log") % 2
    b2 = fnv64("file2.log") % 2
    out1 = workdir / "out" / f"{b1}_file1.log"
    out2 = workdir / "out" / f"{b2}_file2.log"
    assert out1.exists() and out2.exists()
    # empty file produced no output
    assert not list((workdir / "out").glob("*emptyfile*"))

    lines1 = [json.loads(l) for l in out1.read_text().splitlines()]
    assert {l["Key"] for l in lines1} == {1, 2}
    assert {l["Value"] for l in lines1} == {"test1/a", "test2/b"}
    lines2 = [json.loads(l) for l in out2.read_text().splitlines()]
    assert {(l["Key"], l["Value"]) for l in lines2} == {(3, "test3/a"), (4, "test4/b")}

    # meta: 4 records processed, 1 error containing the corrupt line
    meta = Meta.load(str(workdir / "out" / "meta.json"))
    assert sum(m.record_processed for m in meta.processed.values()) == 4
    assert len(meta.errors) == 1
    assert '{"werwe:' in meta.errors[0]["error"]
    assert result.progress.record_processed == 4
    assert result.progress.record_errors == 1

    # per-file stats sidecar: executor-written parquet audit table next
    # to the JSON ledger (3 files incl. the empty one's absent row ⇒ 2)
    import glob as _glob

    sidecar = _glob.glob(
        str(workdir / "out" / "meta.json.files" / "run_ts=*" / "*.parquet")
    )
    assert sidecar, "per-file stats parquet sidecar missing (run_ts-partitioned)"

    # second run: everything already processed ⇒ NOOP (meta skip, M1)
    result2 = svc.run(cfg.transfers[0])
    assert result2.status == NOOP
    assert result2.progress.record_processed == 0


def test_distributed_listing_matches_serial(spark, tmp_path):
    """S1 at scale: with many top-level prefixes the listing shards to
    executor tasks; the result must be identical to the serial walk —
    same URLs, sizes, order — including deep nesting, empty dirs, and
    top-level loose files."""
    from etly_spark.sources.storage import list_source_objects

    root = tmp_path / "src"
    root.mkdir()
    (root / "loose.log").write_text("x" * 7)
    (root / "empty_dir").mkdir()
    n_files = 0
    for i in range(20):  # ≥ distribute_threshold top-level prefixes
        d = root / f"prefix{i:02d}" / "deep" / "deeper"
        d.mkdir(parents=True)
        for j in range(3):
            (d / f"f{j}.log").write_text("y" * (i + j + 1))
            n_files += 1

    serial = list_source_objects(str(root))  # no session → serial walk
    distributed = list_source_objects(str(root), spark, distribute_threshold=16)
    assert len(serial) == n_files + 1
    assert distributed == serial

    # below the threshold the session is ignored (no job for tiny trees)
    small = tmp_path / "small"
    (small / "a").mkdir(parents=True)
    (small / "a" / "f.log").write_text("z")
    assert list_source_objects(str(small), spark) == list_source_objects(str(small))

    # missing root lists empty, both paths
    assert list_source_objects(str(tmp_path / "nope"), spark) == []


def test_parquet_dataset_sink(spark, workdir):
    """Columnar sink: each routed key is a parquet dataset directory;
    read-back via Spark matches the transformed records; re-run is a
    NOOP (meta skip unchanged by sink format)."""
    from etly_spark.config import Resource, Source, Target, Transfer

    t = Transfer(
        name="pq-sink",
        source=Source(name=str(workdir / "in"), data_type="test.Log1"),
        target=Target(
            name=str(workdir / "out" / "bucket=<mod:2>"), data_format="parquet"
        ),
        meta=Resource(name=str(workdir / "out" / "meta.json")),
        transformer="test.Log1ToLog2",
        base_dir=str(workdir),
    )
    svc = TransferService(spark)
    result = svc.run(t)
    assert result.status == DONE
    assert result.progress.record_processed == 4
    assert sorted(os.path.basename(o) for o in set(result.outputs)) == [
        "bucket=0",
        "bucket=1",
    ]
    got = {
        (r.Key, r.Value)
        for o in set(result.outputs)
        for r in spark.read.parquet(o).collect()
    }
    assert got == {
        (1, "test1/a"),
        (2, "test2/b"),
        (3, "test3/a"),
        (4, "test4/b"),
    }
    assert svc.run(t).status == NOOP


def test_parquet_dataset_sink_replay_cleans_stale_parts(spark, workdir):
    """Replay idempotency for the columnar sink: a retried window whose
    new attempt stages FEWER parts must overwrite positions 0..n-1 and
    delete the stale tail, so readers never see a mix of attempts."""
    from etly_spark.config import Resource, Source, Target, Transfer

    t = Transfer(
        name="pq-replay",
        source=Source(name=str(workdir / "in"), data_type="test.Log1"),
        target=Target(
            name=str(workdir / "out" / "bucket=<mod:1>"), data_format="parquet"
        ),
        meta=Resource(name=str(workdir / "out" / "meta.json")),
        transformer="test.Log1ToLog2",
        base_dir=str(workdir),
    )
    svc = TransferService(spark)
    assert svc.run(t).status == DONE
    ds = workdir / "out" / "bucket=0"
    parts = sorted(p.name for p in ds.glob("part-*.parquet"))
    # a stale part from a richer crashed attempt
    import shutil as _shutil

    stale = ds / f"part-{len(parts):05d}.parquet"
    _shutil.copyfile(ds / parts[0], stale)
    # force reprocessing of the same window (crash-before-ledger
    # semantics: both the JSON surface and the durable sidecar are gone)
    (workdir / "out" / "meta.json").unlink()
    _shutil.rmtree(workdir / "out" / "meta.json.files")
    assert svc.run(t).status == DONE
    assert not stale.exists(), "stale roll sibling must be cleaned on replay"
    total = spark.read.parquet(str(ds)).count()
    assert total == 4  # exactly one attempt's records


def test_csv_dataset_sink_remote_scheme(spark, workdir, monkeypatch):
    """CSV dataset to a mock:// object store: every part is one executor
    upload job (no local renames to a remote store); gzip rides the
    writer's codec option."""
    from etly_spark.config import Resource, Source, Target, Transfer

    store = workdir / "store"
    store.mkdir()
    jobs_seen = []
    orig = TransferService._run_byte_jobs
    monkeypatch.setattr(
        TransferService,
        "_run_byte_jobs",
        lambda self, jobs: (jobs_seen.extend(jobs), orig(self, jobs))[1],
    )
    t = Transfer(
        name="csv-sink",
        source=Source(name=str(workdir / "in"), data_type="test.Log1"),
        target=Target(
            name=f"mock://{store}/k=<mod:2>", data_format="csv", compression="gzip"
        ),
        meta=Resource(name=str(workdir / "out" / "meta.json")),
        transformer="test.Log1ToLog2",
        base_dir=str(workdir),
    )
    result = TransferService(spark).run(t)
    assert result.status == DONE
    assert jobs_seen and all(
        dst.startswith("mock://") and len(srcs) == 1 for srcs, dst in jobs_seen
    )
    rows = set()
    for d in sorted(store.iterdir()):
        df = spark.read.option("header", True).csv(str(d))
        rows |= {(int(r.Key), r.Value) for r in df.collect()}
    assert rows == {(1, "test1/a"), (2, "test2/b"), (3, "test3/a"), (4, "test4/b")}


def test_document_curation_pipeline(spark, tmp_path):
    """The LLM-curation job as a config-driven transfer: datastore
    source over the documents parquet table → registered quality filter
    (length + alpha-ratio, Column-builder UDF surface) → transformer
    projecting curation features (token count) → parquet dataset sink
    routed per-language via a $lang record variable. Every stage is the
    etly engine surface; nothing is bespoke to this test but the names."""
    from etly_spark.config import (
        Resource,
        Source,
        Target,
        Transfer,
        VariableExtraction,
    )

    if "cur.QualityGate" not in registry.filters:

        @registry.filters.register("cur.QualityGate")
        def quality_gate(df):
            alpha_ratio = F.length(F.regexp_replace("text", r"[^A-Za-z ]", "")) / F.greatest(
                F.length("text"), F.lit(1)
            )
            return (F.col("n_chars") >= 200) & (alpha_ratio >= 0.5)

        @registry.transformers.register("cur.DocFeatures")
        def doc_features(df):
            return [
                F.col("doc_id"),
                F.col("lang"),
                F.col("n_chars"),
                F.size(F.split(F.trim("text"), r"\s+")).alias("n_tokens"),
            ]

        @registry.variable_providers.register("cur.LangOf")
        def lang_of():
            return F.col("lang")

    t = Transfer(
        name="curate-documents",
        source=Source(
            name="SELECT doc_id, text, lang, n_chars FROM documents",
            type="datastore",
            ds_config={
                "DriverName": "parquet",
                "Parameters": {"url": "file:///root/testdata/sf0.001"},
            },
        ),
        target=Target(
            name=str(tmp_path / "curated" / "lang=$lang"), data_format="parquet"
        ),
        meta=Resource(name=str(tmp_path / "meta.json")),
        transformer="cur.DocFeatures",
        filter="cur.QualityGate",
        variable_extraction=[
            VariableExtraction(name="lang", source="target", provider="cur.LangOf")
        ],
        base_dir=str(tmp_path),
    )
    result = TransferService(spark).run(t)
    assert result.status == DONE, result.error
    assert result.progress.record_processed > 0
    assert result.progress.record_skipped > 0  # the gate actually gated

    # read each per-language dataset back (the data files carry `lang`
    # themselves, so no partition-discovery read over the parent)
    total = 0
    for o in sorted(set(result.outputs)):
        d = spark.read.parquet(o)
        assert set(d.columns) == {"doc_id", "lang", "n_chars", "n_tokens"}
        want_lang = os.path.basename(o).split("=", 1)[1]
        assert d.filter(F.col("lang") != want_lang).count() == 0
        assert d.filter(F.col("n_chars") < 200).count() == 0  # gate held
        total += d.count()
    assert total == result.progress.record_processed


def test_hidden_files_never_eligible(tmp_path):
    """S2: Hadoop data-plane metadata (.crc checksum sidecars, _SUCCESS
    markers) must not become source records even when the user's regex
    substring-matches them — a Spark-written directory is a valid source
    for the next transfer."""
    from etly_spark.sources.storage import filter_storage_objects, list_source_objects

    root = tmp_path / "src"
    root.mkdir()
    (root / "part-00000.txt").write_text('{"Id": 1}\n')
    (root / ".part-00000.txt.crc").write_bytes(b"\x00" * 12)
    (root / "_SUCCESS").write_text("")
    (root / "._SUCCESS.crc").write_bytes(b"\x00" * 8)
    (root / ".etly_meta.json").write_text("{}")

    objects = list_source_objects(str(root))
    assert len(objects) == 5  # the listing is the raw universe
    eligible = filter_storage_objects(objects, filter_reg_exp=r"part-")
    assert [u.rsplit("/", 1)[-1] for u in eligible] == ["part-00000.txt"]
    # no regex: still only the visible file
    assert filter_storage_objects(objects) == eligible

    # status roll-up must agree: permanently-ineligible classes (hidden,
    # zero-byte) never count as pending, or the ledger reports work that
    # can never drain
    from etly_spark.sources.storage import is_hidden

    pending = len([u for u, s in objects if s > 0 and not is_hidden(u)]) - len(
        eligible
    )
    assert pending == 0


def test_max_error_counts_aborts(spark, workdir):
    cfg = make_config(workdir)
    t = cfg.transfers[0]
    t.max_error_counts = 1  # first decode error aborts (transfer.go:21-24)
    result = TransferService(spark).run(t)
    assert result.status == "ERROR"
    assert "max errors" in result.error


def test_filter_skips_records(spark, workdir):
    if "test.OnlyTypeA" not in registry.filters:

        @registry.filters.register("test.OnlyTypeA")
        def only_type_a(df):
            return df["Type"] == "a"

    cfg = make_config(workdir)
    t = cfg.transfers[0]
    t.filter = "test.OnlyTypeA"
    result = TransferService(spark).run(t)
    assert result.status == DONE, result.error
    assert result.progress.record_processed == 2  # ids 1 and 3
    assert result.progress.record_skipped == 2  # ids 2 and 4


def test_datastore_csv_pipeline(spark, tmp_path):
    # service_test.go:129-172 shape: csv datastore → routed ndjson target
    ds = tmp_path / "ds" / "in"
    ds.mkdir(parents=True)
    (ds / "apps.csv").write_text(
        '"APP_ID","NAME","URL"\n'
        '"1","Mobiquite-Thermometer-iOS","http://www.mobiquite.fr/"\n'
        '"2","App2","http://ex.com/2"\n'
        '"3","App3","http://ex.com/3"\n'
        '"4","App4","http://ex.com/4"\n'
    )
    cfg = {
        "Transfers": [
            {
                "Source": {
                    "Name": "SELECT * FROM apps",
                    "Type": "datastore",
                    "DataFormat": "ndjson",
                    "DataType": "test.AppLog1",
                    "DsConfig": {
                        "DriverName": "csv",
                        "Parameters": {"ext": "csv", "url": "file://<pwd>ds/in"},
                    },
                },
                "Target": {
                    "Name": "file://<pwd>ds/out/app-$thread-$batchCount.log",
                    "Type": "url",
                    "DataFormat": "ndjson",
                },
                "Meta": {"Name": "file://<pwd>ds/meta.json"},
                "Transformer": "test.AppLog1ToLog2",
                "MaxErrorCounts": 0,
            }
        ]
    }
    cfg_path = tmp_path / "transfer2.json"
    cfg_path.write_text(json.dumps(cfg))
    conf = TransferConfig.from_json(str(cfg_path))
    result = TransferService(spark).run(conf.transfers[0])
    assert result.status == DONE, result.error
    assert result.progress.record_processed == 4

    out_files = sorted((tmp_path / "ds" / "out").glob("app-*.log"))
    assert out_files, "routed datastore outputs missing"
    recs = []
    for f in out_files:
        recs += [json.loads(l) for l in f.read_text().splitlines()]
    # golden style: AppId string→int cast (service_test.go:162-169)
    assert sorted(r["AppId"] for r in recs) == [1, 2, 3, 4]
    assert all(isinstance(r["AppId"], int) for r in recs)
    assert any("Mobiquite" in r["Payload"] for r in recs)


def test_gzip_sink(spark, workdir):
    import gzip as gz

    cfg = make_config(workdir)
    t = cfg.transfers[0]
    t.target.compression = "gzip"
    result = TransferService(spark).run(t)
    assert result.status == DONE, result.error
    b1 = fnv64("file1.log") % 2
    out1 = workdir / "out" / f"{b1}_file1.log"
    with gz.open(out1, "rt") as f:
        lines = [json.loads(l) for l in f.read().splitlines()]
    assert {l["Key"] for l in lines} == {1, 2}


def test_gzip_source(spark, tmp_path):
    """Reference reads gzipped ndjson inputs (transfer_object_service.go:
    89-109); Spark decompresses .gz transparently on read."""
    import gzip as gz

    src = tmp_path / "in"
    src.mkdir()
    (tmp_path / "out").mkdir()
    with gz.open(src / "data.log.gz", "wt") as f:
        f.write('{"Id":7,"Name":"gz","Type":"z"}\n{"Id":8,"Name":"gz2","Type":"y"}\n')

    from etly_spark.config import Resource, Source, Target, Transfer

    t = Transfer(
        name="gz-smoke",
        source=Source(name=str(src), data_type="test.Log1", compression="gzip"),
        target=Target(name=str(tmp_path / "out" / "<file>.out")),
        meta=Resource(name=str(tmp_path / "out" / "meta.json")),
        transformer="test.Log1ToLog2",
        base_dir=str(tmp_path),
    )
    result = TransferService(spark).run(t)
    assert result.status == DONE, result.error
    assert result.progress.record_processed == 2
    out = tmp_path / "out" / "data.log.gz.out"
    assert out.exists()
    assert {json.loads(l)["Key"] for l in out.read_text().splitlines()} == {7, 8}


def test_record_key_longest_first_substitution(spark):
    """util.go:244-251 parity: $var replacement must be longest-name-first
    (including the built-in $thread/$batchCount) so a variable whose name
    is a prefix of another — $a vs $ab, or a user var named $threadX —
    is never clobbered by the shorter substitution."""
    from etly_spark.config import Transfer, Source, Target, VariableExtraction
    from etly_spark.pipeline import TransferService

    for nm, val in [("test.PfxA", "A"), ("test.PfxAB", "AB"), ("test.PfxThreadX", "TX")]:
        if nm not in registry.variable_providers:
            registry.variable_providers.register(nm, lambda v=val: F.lit(v))

    t = Transfer(
        name="pfx",
        source=Source(name="unused"),
        target=Target(name="unused"),
        variable_extraction=[
            VariableExtraction(name="a", source="target", provider="test.PfxA"),
            VariableExtraction(name="ab", source="target", provider="test.PfxAB"),
            VariableExtraction(name="threadX", source="target", provider="test.PfxThreadX"),
        ],
    )
    svc = TransferService(spark)
    df = spark.range(1).coalesce(1)
    key = svc._record_key_column(t, F.lit("$ab|$a|$threadX|$thread|$batchCount"), 7)
    assert df.select(key.alias("k")).collect()[0]["k"] == "AB|A|TX|0|7"


def test_type_dispatch_exclusion_and_default(spark, tmp_path):
    """S5 DataTypeMatch reference parity (transfer_object_service.go:
    180-195): first matching fragment picks the decode type; an
    empty-DataType fragment EXCLUDES the line silently (no corrupt
    count, no meta error); a line matching no fragment parses with the
    default Source.DataType. All types decode in one pass."""
    if "dt.TypeA" not in registry.schemas:
        registry.schemas.register(
            "dt.TypeA",
            StructType([StructField("Id", LongType()), StructField("A", StringType())]),
        )
        registry.schemas.register(
            "dt.TypeB",
            StructType([StructField("Id", LongType()), StructField("B", StringType())]),
        )
        registry.schemas.register(
            "dt.Default",
            StructType([StructField("Id", LongType()), StructField("Name", StringType())]),
        )

    src = tmp_path / "in"
    src.mkdir()
    (tmp_path / "out").mkdir()
    (src / "mixed.log").write_text(
        '{"Id":1,"A":"x","kind":"ta"}\n'      # fragment ta  -> dt.TypeA
        '{"Id":2,"B":"y","kind":"tb"}\n'      # fragment tb  -> dt.TypeB
        '{"Id":3,"skipme":1}\n'               # excluded fragment (empty type)
        '{"Id":4,"Name":"deflt"}\n'           # no fragment -> default schema
        '{"broken-ta\n'                        # matches ta, malformed -> corrupt
    )
    from etly_spark.config import DataTypeMatch, Resource, Source, Target, Transfer

    t = Transfer(
        name="dispatch",
        source=Source(
            name=str(src),
            data_type="dt.Default",
            data_type_match=[
                DataTypeMatch("ta", "dt.TypeA"),
                DataTypeMatch("tb", "dt.TypeB"),
                DataTypeMatch("skipme", ""),
            ],
        ),
        target=Target(name=str(tmp_path / "out" / "<file>")),
        meta=Resource(name=str(tmp_path / "out" / "meta.json")),
        base_dir=str(tmp_path),
    )
    result = TransferService(spark).run(t)
    assert result.status == DONE, result.error
    # excluded line is invisible: 4 read (not 5), 3 processed, 1 corrupt
    assert result.progress.record_read == 4
    assert result.progress.record_processed == 3
    assert result.progress.record_errors == 1
    meta = Meta.load(str(tmp_path / "out" / "meta.json"))
    assert len(meta.errors) == 1 and "broken-ta" in meta.errors[0]["error"]

    out = (tmp_path / "out" / "mixed.log").read_text().strip().splitlines()
    recs = {json.loads(ln)["Id"]: json.loads(ln) for ln in out}
    # one pass, merged fields: each record keeps its own type's fields
    assert recs[1]["A"] == "x" and "B" not in recs[1]
    assert recs[2]["B"] == "y" and "A" not in recs[2]
    assert recs[4]["Name"] == "deflt"
    assert 3 not in recs


def test_raw_codec_hooks_bypass_json(spark, tmp_path):
    """Raw codec registry (encoding.go:17-23, dispatch util.go:141-168,
    payload carry of service_test.go:28-44): a DataType with a
    registered raw_decoder decodes non-JSON lines itself (null struct ⇒
    corrupt), and a Target.DataType raw_encoder produces the output
    line, bypassing to_json — the payload rides through verbatim."""
    from etly_spark.config import Resource, Source, Target, Transfer

    if "raw.PipeLog" not in registry.schemas:
        registry.schemas.register(
            "raw.PipeLog",
            StructType(
                [
                    StructField("Id", LongType()),
                    StructField("Name", StringType()),
                    StructField("Type", StringType()),
                ]
            ),
        )

        @registry.raw_decoders.register("raw.PipeLog")
        def decode_pipe(raw, schema):
            # "id|name|type" — a non-JSON wire format; malformed ⇒ null
            parts = F.split(raw, r"\|")
            ok = (F.size(parts) == 3) & parts[0].rlike("^[0-9]+$")
            return F.when(
                ok,
                F.struct(
                    parts[0].cast("long").alias("Id"),
                    parts[1].alias("Name"),
                    parts[2].alias("Type"),
                ),
            )

        @registry.raw_encoders.register("raw.PipeOut")
        def encode_pipe(df, data_cols):
            # RawMarshal: emit the record as pipe-text, carrying the raw
            # payload through verbatim as the trailing field
            return F.concat_ws("|", *[F.col(c) for c in data_cols], F.col("__raw__"))

    src = tmp_path / "in"
    src.mkdir()
    (tmp_path / "out").mkdir()
    (src / "pipe.log").write_text("1|alpha|a\nnot-a-record\n2|beta|b\n")

    t = Transfer(
        name="rawcodec",
        source=Source(name=str(src), data_type="raw.PipeLog", data_format="ndjson"),
        target=Target(name=str(tmp_path / "out" / "<file>"), data_type="raw.PipeOut"),
        meta=Resource(name=str(tmp_path / "out" / "meta.json")),
        base_dir=str(tmp_path),
    )
    result = TransferService(spark).run(t)
    assert result.status == DONE, result.error
    assert result.progress.record_processed == 2
    assert result.progress.record_errors == 1  # the non-decodable line

    out = (tmp_path / "out" / "pipe.log").read_text().strip().splitlines()
    # encoder output: data cols pipe-joined + raw payload carried through
    assert sorted(out) == ["1|alpha|a|1|alpha|a", "2|beta|b|2|beta|b"]


def test_xml_dataset_sink_and_datastore_source(spark, workdir):
    """XML round-trip (Spark 4 built-in XML source): the dataset sink
    lands mod-routed XML dirs (<row> per record), and the datastore
    source reads them back through the same SQL defaulting."""
    from etly_spark.config import Resource, Source, Target, Transfer
    from etly_spark.sources.datastore import read_datastore

    t = Transfer(
        name="xml-sink",
        source=Source(name=str(workdir / "in"), data_type="test.Log1"),
        target=Target(
            name=str(workdir / "out" / "bucket=<mod:2>"), data_format="xml"
        ),
        meta=Resource(name=str(workdir / "out" / "meta.json")),
        transformer="test.Log1ToLog2",
        base_dir=str(workdir),
    )
    result = TransferService(spark).run(t)
    assert result.status == DONE, result.error
    assert result.progress.record_processed == 4
    got = {
        (r.Key, r.Value)
        for o in set(result.outputs)
        for r in spark.read.format("xml").option("rowTag", "row").load(o).collect()
    }
    assert got == {(1, "test1/a"), (2, "test2/b"), (3, "test3/a"), (4, "test4/b")}
    parts = list((workdir / "out").glob("bucket=*/part-*.xml"))
    assert parts, "xml parts missing the .xml extension"

    # datastore source: bare-table SQL over the landed XML data
    store = workdir / "store"
    spark.read.format("xml").option("rowTag", "row").load(
        str(workdir / "out" / "bucket=0")
    ).write.format("xml").option("rowTag", "row").save(str(store / "log2.xml"))
    src = Source(
        name="SELECT Key, Value FROM log2 ORDER BY Key",
        type="datastore",
        ds_config={
            "DriverName": "xml",
            "Parameters": {"url": f"file://{store}"},
        },
    )
    rows = read_datastore(spark, src).collect()
    assert [r.Key for r in rows] == sorted(r.Key for r in rows) and len(rows) >= 1


def test_orc_dataset_sink_and_datastore_source(spark, workdir):
    """ORC round-trip: the dataset sink lands mod-routed ORC dirs, and
    the datastore source reads ORC through the same SQL defaulting as
    csv/parquet (Spark-native format — no extra packages)."""
    from etly_spark.config import Resource, Source, Target, Transfer
    from etly_spark.sources.datastore import read_datastore

    t = Transfer(
        name="orc-sink",
        source=Source(name=str(workdir / "in"), data_type="test.Log1"),
        target=Target(
            name=str(workdir / "out" / "bucket=<mod:2>"), data_format="orc"
        ),
        meta=Resource(name=str(workdir / "out" / "meta.json")),
        transformer="test.Log1ToLog2",
        base_dir=str(workdir),
    )
    result = TransferService(spark).run(t)
    assert result.status == DONE, result.error
    assert result.progress.record_processed == 4
    got = {
        (r.Key, r.Value)
        for o in set(result.outputs)
        for r in spark.read.orc(o).collect()
    }
    assert got == {(1, "test1/a"), (2, "test2/b"), (3, "test3/a"), (4, "test4/b")}
    parts = list((workdir / "out").glob("bucket=*/part-*.orc"))
    assert parts, "orc parts missing the .orc extension"

    # datastore source: bare-table SQL over the landed ORC data
    store = workdir / "store"
    spark.read.orc(str(workdir / "out" / "bucket=0")).write.orc(
        str(store / "log2.orc")
    )
    src = Source(
        name="SELECT Key, Value FROM log2 ORDER BY Key",
        type="datastore",
        ds_config={
            "DriverName": "orc",
            "Parameters": {"url": f"file://{store}"},
        },
    )
    rows = read_datastore(spark, src).collect()
    assert [r.Key for r in rows] == sorted(r.Key for r in rows) and len(rows) >= 1


def test_datastore_windows_expand_their_own_dates(spark, tmp_path):
    """Each look-back window of a datastore source reads its own date's
    data: the <dateFormat:> in a DsConfig Parameter expands per window,
    and the Transfer's own DsConfig is left as configured (a second
    window, a later run and a concurrent group all start from it)."""
    import copy
    from datetime import datetime, timezone

    import pyarrow as pa
    import pyarrow.parquet as pq

    from etly_spark.config import transfer_from_dict

    days = {"20260101": [1, 2], "20260102": [3]}
    for day, ids in days.items():
        (tmp_path / "ds" / day).mkdir(parents=True)
        pq.write_table(
            pa.table({"APP_ID": [str(i) for i in ids], "NAME": [f"n{i}" for i in ids],
                      "URL": [f"u{i}" for i in ids]}),
            str(tmp_path / "ds" / day / "apps.parquet"),
        )
    t = transfer_from_dict(
        {
            "Name": "ds-dated",
            "Source": {
                "Name": "SELECT * FROM apps",
                "Type": "datastore",
                "DataType": "test.AppLog1",
                "DsConfig": {
                    "DriverName": "parquet",
                    "Parameters": {"url": "file://<pwd>ds/<dateFormat:yyyyMMdd>"},
                },
            },
            "Target": {"Name": "file://<pwd>out/<dateFormat:yyyyMMdd>/apps.log"},
            "Transformer": "test.AppLog1ToLog2",
            "TimeWindow": {"Duration": 2, "Unit": "day"},
        },
        base_dir=str(tmp_path) + os.sep,
    )
    configured = copy.deepcopy(t.source.ds_config)
    result = TransferService(spark).run(t, now=datetime(2026, 1, 2, 12, tzinfo=timezone.utc))
    assert result.status == DONE, result.error
    for day, ids in days.items():
        out = tmp_path / "out" / day / "apps.log"
        assert sorted(json.loads(l)["AppId"] for l in out.read_text().splitlines()) == ids
    assert result.progress.record_processed == 3
    assert t.source.ds_config == configured


def test_datastore_read_leaves_session_views_alone(spark, tmp_path):
    """read_datastore resolves its table under a view name of its own:
    a session view already registered under the table's name (another
    window group's read, or the caller's own view) is neither replaced
    nor read."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from etly_spark.config import Source
    from etly_spark.sources.datastore import read_datastore

    pq.write_table(pa.table({"APP_ID": ["1", "2"]}), str(tmp_path / "apps.parquet"))
    spark.createDataFrame([("sentinel",)], "APP_ID string").createOrReplaceTempView("apps")
    try:
        src = Source(
            name="SELECT APP_ID FROM apps",
            type="datastore",
            ds_config={"DriverName": "parquet", "Parameters": {"url": f"file://{tmp_path}"}},
        )
        rows = read_datastore(spark, src).collect()
        assert sorted(r.APP_ID for r in rows) == ["1", "2"]
        assert [r.APP_ID for r in spark.table("apps").collect()] == ["sentinel"]
    finally:
        spark.catalog.dropTempView("apps")
