"""Fast non-Spark unit tests: dialect shim, catalog parser, money/SQL
shape helpers."""

from __future__ import annotations

import ast

import pytest

from sql_engine_spark.matrix import sql_cents, sql_sum_dollars
from sql_engine_spark.sources.csv_catalog import parse_metadata
from sql_engine_spark.sql.dialect import glob_to_regex, normalize_query


def test_normalize_preserves_string_literals():
    q = "select * from t where s = 'a == b'"
    assert normalize_query(q) == q


def test_normalize_glob():
    out = normalize_query("select * from t where s GLOB 'ab*c?'")
    assert out == "select * from t where s RLIKE '^ab.*c.$'"


def test_glob_charclass():
    assert glob_to_regex("a[0-9]*") == "^a[0-9].*$"


def test_glob_escapes_regex_chars():
    assert glob_to_regex("a.b") == "^a\\.b$"


def test_parse_metadata(tmp_path):
    p = tmp_path / "metadata.txt"
    p.write_text("<begin_table>\nt1\nA\nB\n<end_table>\n<begin_table>\nt2\nX\n<end_table>\n")
    assert parse_metadata(str(p)) == {"t1": ["A", "B"], "t2": ["X"]}


@pytest.mark.parametrize(
    "text, line",
    [
        pytest.param("<begin_table>\nt1\nA\n", 2, id="no_end_at_eof"),
        pytest.param("<begin_table>\n", 1, id="lone_begin"),
        pytest.param("<begin_table>\n<end_table>\n<begin_table>\nt2\nX\n<end_table>\n", 2, id="empty_table"),
        pytest.param(
            "<begin_table>\nt1\nA\n<begin_table>\nt2\nX\n<end_table>\n", 4, id="no_end_before_begin"
        ),
        pytest.param(
            "<begin_table>\nt1\nA\n<end_table>\n\n<begin_table>\nt1\nB\n<end_table>\n", 7, id="duplicate_name"
        ),
    ],
)
def test_parse_metadata_unterminated(tmp_path, text, line):
    """Malformed framing is a ValueError naming its line (blank lines
    count); a framing token never becomes a table name or a column."""
    p = tmp_path / "metadata.txt"
    p.write_text(text)
    with pytest.raises(ValueError, match=rf"metadata\.txt:{line}: "):
        parse_metadata(str(p))


def test_sql_shape_helpers():
    assert sql_cents("x") == "CAST(ROUND(x*100) AS BIGINT)"
    assert sql_sum_dollars("x") == "CAST(SUM(CAST(ROUND(x*100) AS BIGINT)) AS DOUBLE)/100.0"


def test_frame_sample_matches_local_recomputation(spark, sf_dir):
    import hashlib

    from sql_engine_spark.catalog import load_table
    from sql_engine_spark.operators.multimodal import attach_payload, frame_sample

    docs = load_table(spark, sf_dir, "documents").limit(50)
    got = {
        (r.doc_id, r.frame_idx): (r.frame_bytes, r.frame_sha256)
        for r in frame_sample(attach_payload(docs)).collect()
    }
    expect = {}
    for r in docs.select("doc_id", "text").collect():
        data = r.text.encode("utf-8")
        n_frames = (len(data) + 63) // 64
        for i in range(0, n_frames, 4):
            frame = data[i * 64 : (i + 1) * 64]
            expect[(r.doc_id, i)] = (
                len(frame),
                hashlib.sha256(frame.hex().upper().encode()).hexdigest(),
            )
    assert got == expect


def test_cli_main_reference_mode(spark, capsys):
    import os

    from sql_engine_spark.__main__ import main

    fixtures = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
    rc = main(["select A from table1 where A > 0 order by A", "--catalog", fixtures])
    assert rc == 0
    out = capsys.readouterr().out
    for v in ("411", "640", "775", "858", "922"):
        assert v in out


def test_cli_main_csv_sink(spark, tmp_path):
    import os

    from sql_engine_spark.__main__ import main

    fixtures = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")
    dest = str(tmp_path / "out_csv")
    rc = main(["select distinct A, B from table1;", "--catalog", fixtures, "--output", dest])
    assert rc == 0
    import csv
    import glob

    with open(os.path.join(fixtures, "table1.csv"), newline="") as fh:
        want = {(a, b) for a, b, _ in csv.reader(fh)}
    got = []
    for part in sorted(glob.glob(os.path.join(dest, "part-*.csv"))):
        with open(part, newline="") as fh:
            reader = csv.reader(fh)
            assert next(reader) == ["A", "B"]
            got += [tuple(r) for r in reader]
    assert len(got) == len(want) == 10
    assert set(got) == want


def test_run_sql_bind_params(spark):
    from sql_engine_spark.sql import run_sql

    spark.range(10).createOrReplaceTempView("bind_t")
    assert run_sql(spark, "select count(*) as n from bind_t where id > :lo", {"lo": 6}).first().n == 3
    assert run_sql(spark, "select count(*) as n from bind_t where id > ?", [6]).first().n == 3
    # Spark parses trailing semicolons itself, also on bound queries.
    plain = run_sql(spark, "select id from bind_t where id > 6").collect()
    assert run_sql(spark, "select id from bind_t where id > 6;;").collect() == plain
    assert run_sql(spark, "select id from bind_t where id > ?;", [6]).collect() == plain


def test_resize_images_deterministic(spark, sf_dir):
    import hashlib

    from sql_engine_spark.catalog import load_table
    from sql_engine_spark.operators.multimodal import attach_payload, resize_images

    docs = load_table(spark, sf_dir, "documents").limit(20)
    got = {r.doc_id: (r.width, r.height, r.resized_bytes, r.resized_sha256)
           for r in resize_images(attach_payload(docs)).collect()}
    for r in docs.select("doc_id", "text").collect():
        data = r.text.encode("utf-8")
        reps = (1024 + len(data) - 1) // len(data)
        expect = (data * reps)[:1024]
        assert got[r.doc_id] == (
            32, 32, 1024, hashlib.sha256(expect.hex().upper().encode()).hexdigest(),
        )


# --- pure-Python media codec ----------------------------------------


def test_png_roundtrip_all_filters():
    """Encoder output (filter 0) must round-trip exactly, and the
    decoder must undo Sub/Up/Average/Paeth filtered scanlines — built
    by applying each filter forward to known pixels."""
    import struct
    import zlib

    from sql_engine_spark.operators.multimodal import (
        _paeth,
        _png_chunk,
        _PNG_SIG,
        png_decode,
        png_encode,
    )

    w, h = 5, 4
    pixels = bytes((x * 37 + 11) % 256 for x in range(w * h * 3))
    ww, hh, got = png_decode(png_encode(pixels, w, h))
    assert (ww, hh, got) == (w, h, pixels)

    # hand-filter each scanline with a different filter type
    stride = w * 3
    rows = [pixels[y * stride : (y + 1) * stride] for y in range(h)]
    raw = bytearray()
    prev = bytes(stride)
    for y, (ftype, row) in enumerate(zip([1, 2, 3, 4], rows)):
        raw.append(ftype)
        for i in range(stride):
            left = row[i - 3] if i >= 3 else 0
            up = prev[i]
            ul = prev[i - 3] if i >= 3 else 0
            if ftype == 1:
                raw.append((row[i] - left) & 0xFF)
            elif ftype == 2:
                raw.append((row[i] - up) & 0xFF)
            elif ftype == 3:
                raw.append((row[i] - (left + up) // 2) & 0xFF)
            else:
                raw.append((row[i] - _paeth(left, up, ul)) & 0xFF)
        prev = row
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    data = (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )
    ww, hh, got = png_decode(data)
    assert (ww, hh, got) == (w, h, pixels)


def test_media_info_header_sniffing():
    import struct

    from sql_engine_spark.operators.multimodal import media_info, png_encode

    png = png_encode(bytes(6 * 2 * 3), 6, 2)
    assert media_info(png) == {"format": "png", "width": 6, "height": 2}
    # minimal JPEG: SOI + APP0 + SOF0 with dims 640x480
    jpeg = (
        b"\xff\xd8"
        + b"\xff\xe0" + struct.pack(">H", 4) + b"\x00\x00"
        + b"\xff\xc0" + struct.pack(">H", 11) + b"\x08" + struct.pack(">HH", 480, 640) + b"\x03\x00\x00\x00"
    )
    assert media_info(jpeg) == {"format": "jpeg", "width": 640, "height": 480}
    gif = b"GIF89a" + struct.pack("<HH", 320, 200) + b"\x00" * 4
    assert media_info(gif) == {"format": "gif", "width": 320, "height": 200}
    bmp = b"BM" + b"\x00" * 16 + struct.pack("<ii", 100, -50) + b"\x00" * 8
    assert media_info(bmp) == {"format": "bmp", "width": 100, "height": 50}
    assert media_info(b"RIFF\x00\x00\x00\x00WAVEfmt ")["format"] == "wav"
    assert media_info(b"garbage")["format"] is None


def test_decode_media_scoped_to_video_only():
    import pytest as _pytest

    from sql_engine_spark.operators.multimodal import decode_media, png_encode

    pixels = bytes(range(48))
    png = png_encode(pixels, 4, 4)
    assert decode_media(png, "image/png") == pixels
    with _pytest.raises(NotImplementedError):
        decode_media(b"\x00\x00\x00\x18ftypmp4", "video/mp4")
    with _pytest.raises(ValueError):
        decode_media(b"not a gif", "image/gif")


def test_match_raises_clear_error():
    """MATCH parses in the reference grammar but nothing executes it
    (SQLite-without-FTS parity) — the shim must say so clearly."""
    import pytest as _pytest

    from sql_engine_spark.sql.dialect import UnsupportedSqlFeature

    with _pytest.raises(UnsupportedSqlFeature, match="MATCH"):
        normalize_query("SELECT * FROM t WHERE body MATCH 'spark'")
    # ...but MATCH inside a string literal is data, not grammar.
    assert "MATCH" in normalize_query("SELECT 'MATCH me' AS s")


def test_partitioned_write_prunes_partitions(spark, sf_dir, tmp_path):
    """Hive-style partitioned parquet + a partition-key filter must
    plan partition pruning (the scan lists only matching directories)
    — the layout that turns a 100 TB scan into a 1-partition read."""
    import contextlib
    import io as _io

    from pyspark.sql import functions as F

    from sql_engine_spark.catalog import load_table

    ev = load_table(spark, sf_dir, "events")
    out = str(tmp_path / "events_by_type")
    ev.write.partitionBy("event_type").parquet(out)
    back = spark.read.parquet(out).filter(F.col("event_type") == "click")
    buf = _io.StringIO()
    with contextlib.redirect_stdout(buf):
        back.explain("formatted")
    plan = buf.getvalue()
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf and "event_type" in pf[0], plan
    n_click = ev.filter(F.col("event_type") == "click").count()
    assert back.count() == n_click


def test_bench_contract_line_is_compact(tmp_path, capsys, monkeypatch):
    """The driver tail-captures bench stdout; BENCH_r02 was lost when
    the JSON line grew past the capture. Pin the contract: the emitted
    line carries ONLY metric/value/unit/queries/sf (details go to the
    sidecar), parses as JSON, and stays small even at full query count."""
    import json

    import bench

    detail_file = tmp_path / "detail.json"
    monkeypatch.setenv("SPARK_GRAFT_BENCH_DETAIL", str(detail_file))
    timings = {name: 1.234 for name in bench.BENCH_QUERIES}
    detail = {"spread": {n: [1.0, 2.0] for n in timings}, "recall": {"x": 1}}
    line = bench.emit(timings, 0.1, detail, canary_spread=1.08, py_spread=1.24)
    parsed = json.loads(line)
    assert set(parsed) == {
        "metric", "value", "unit", "queries", "sf", "canary_spread",
        "py_canary_spread", "certified",
    }
    assert parsed["canary_spread"] == 1.08 and parsed["py_canary_spread"] == 1.24
    # VERDICT r10 #3: the contract line itself says whether per-query
    # targets may be evaluated on this run (canary within the clean
    # line) — a contended window can never again be silently shipped.
    assert parsed["certified"] is True
    assert parsed["unit"] == "sec"
    assert parsed["queries"] == timings
    assert parsed["value"] == round(sum(timings.values()), 3)
    assert len(line) < 2048, "contract line must stay tail-capture safe"
    # stdout: the contract line is the LAST line.
    out_lines = capsys.readouterr().out.strip().splitlines()
    assert out_lines[-1] == line
    # sidecar holds the detail verbatim — and carries the SAME
    # certified verdict as the contract line, stamped by emit() from
    # one expression (ADVICE r11: two independent evaluations of the
    # threshold could drift apart when the clean line moves).
    sidecar = json.loads(detail_file.read_text())
    assert sidecar["recall"] == {"x": 1}
    assert sidecar["certified"] is parsed["certified"] is True
    # An over-the-line canary flips the verdict (VERDICT r10 #3) — in
    # BOTH records.
    dirty = json.loads(bench.emit(timings, 0.1, detail, canary_spread=1.5, py_spread=1.24))
    assert dirty["certified"] is False
    assert json.loads(detail_file.read_text())["certified"] is False
    # Since r15 the steal-sensitive py canary co-gates (VERDICT r14
    # #3): a clean-e08 window with a blown py spread is the s01-r13
    # class (non-JVM-path steal) and must NOT certify.
    py_dirty = json.loads(
        bench.emit(timings, 0.1, detail, canary_spread=1.08, py_spread=1.6)
    )
    assert py_dirty["certified"] is False
    assert json.loads(detail_file.read_text())["certified"] is False


def test_rows_only_harness_action_is_noop_write():
    """Rows-only entries (no oracle) must pay their full projection:
    the harness action is a noop-format write, never count() — count()
    lets Spark prune every output expression, so a rows-only check
    would neither time nor even execute the operator's expressions
    (VERDICT r2 item 5). Pins both driver_sim and bench."""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    sim = (root / "tools" / "driver_sim.py").read_text()
    assert 'format("noop")' in sim
    assert "count() >= 0" not in sim
    bench_src = (root / "bench.py").read_text()
    assert 'format("noop")' in bench_src


def test_slot_contended_flags_only_wide_n5_spreads():
    """The r12 slot-contention self-flag: a certified window certifies
    the WINDOW, not each query's moment (q3 in r11, x38/x18/q18 in
    r12 read 1.48–8.2× intra-spreads inside otherwise-clean windows).
    slot_contended() must flag exactly the n≥5 slots whose own max/min
    spread exceeds SLOT_SPREAD_LINE — and never an n=3 slot, whose
    spread is a coin flip, not a signal."""
    import bench

    spread = {
        "x38": [2.702, 4.011],  # the real r12 window-B incident: 1.48×
        "x18": [1.12, 9.2],  # window C: 8.21×
        "q3": [0.656, 0.78],  # clean: 1.19×
        "wide_n3": [1.0, 2.0],  # wide but n=3 — not a signal
    }
    n = {"x38": 5, "x18": 5, "q3": 5, "wide_n3": 3}
    flags = bench.slot_contended(spread, n)
    assert flags == {"x38": 1.48, "x18": 8.21}
    # Boundary: exactly at the line does not flag (strictly greater).
    assert bench.slot_contended({"q": [1.0, bench.SLOT_SPREAD_LINE]}, {"q": 5}) == {}


def test_replica_scale_id_arithmetic_survives_x500(spark):
    """Pin tools/replica_scale.py's id-offset arithmetic at ×500 — the
    exact point where the r11 ad-hoc harness died (k * 10**7 computed
    in int32: 499 * 10**7 ≈ 4.99e9 > 2**31, ANSI ARITHMETIC_OVERFLOW;
    same failure class the r4 sweep fixed in the engine). The tool
    casts BOTH operands to long before the multiply (VERDICT r11 #3);
    this test is the tripwire that keeps that cast load-bearing."""
    from pyspark.sql import functions as F

    from tools.replica_scale import ID_OFFSET, replicate_table

    # The failure class is real in this session (ANSI on): the naive
    # int32 multiply the old scripts wrote DOES throw at factor 500.
    with pytest.raises(Exception, match="(?i)overflow"):
        spark.range(1).select(
            (F.lit(499) * F.lit(ID_OFFSET)).alias("bad")
        ).collect()

    base = spark.range(3).select(F.col("id").alias("doc_id"))
    rep = replicate_table(base, 500, ["doc_id"])
    assert dict(rep.dtypes)["doc_id"] == "bigint"
    stats = rep.agg(
        F.count("*").alias("n"),
        F.countDistinct("doc_id").alias("nd"),
        F.max("doc_id").alias("mx"),
        F.min("doc_id").alias("mn"),
    ).collect()[0]
    # 3 rows × 500 replicas, all ids distinct (offset clears the base
    # range), top id exactly base_max + 499 * offset — long arithmetic,
    # no wraparound, no ANSI error.
    assert stats.n == 1500 and stats.nd == 1500
    assert stats.mx == 2 + 499 * ID_OFFSET
    assert stats.mn == 0
    # factor=1 is the identity — no __k residue, schema untouched.
    assert replicate_table(base, 1, ["doc_id"]).columns == ["doc_id"]


def test_replica_scale_mutates_text_so_replicas_are_not_dups(spark):
    """Dedup-family curves need constant dup DENSITY as volume grows:
    replicate_table's mutate_cols suffixes every token with ``_r{k}``
    (k>0 only — replica 0 is the original corpus), so no shingle is
    shared across replicas and a banded/prefix-filtered path sees k×
    volume at the same density. Verbatim clones would instead multiply
    every doc's dup count by factor — the wrong regime
    (bench.py's scale and pair-hub probes build their replicas with
    replicate_table, so this pins their semantics too). The ``_r``
    separator (ADVICE r12) keeps a digit-suffixed BASE token from
    colliding with a mutated one: under the old bare-digit suffix,
    base 'alpha1' == replica 1's 'alpha'→'alpha1'."""
    from pyspark.sql import functions as F

    from tools.replica_scale import replicate_table

    base = spark.createDataFrame(
        [(0, "alpha beta gamma"), (1, "delta alpha1")], "doc_id long, text string"
    )
    rep = replicate_table(base, 3, ["doc_id"], ["text"]).collect()
    texts = {r.doc_id: r.text for r in rep}
    assert len(texts) == 6
    # Replica 0 is verbatim; replica k suffixes EVERY token with _r{k}.
    assert texts[0] == "alpha beta gamma"
    assert texts[10_000_000] == "alpha_r1 beta_r1 gamma_r1"
    assert texts[20_000_000] == "alpha_r2 beta_r2 gamma_r2"
    assert texts[1] == "delta alpha1"
    assert texts[20_000_001] == "delta_r2 alpha1_r2"
    # No token (shingle ingredient) is shared across replicas of the
    # same doc — replicas are mutually non-duplicate by construction.
    token_sets = [set(texts[k * 10_000_000].split()) for k in range(3)]
    assert not (token_sets[0] & token_sets[1])
    assert not (token_sets[1] & token_sets[2])
    # The ADVICE r12 case: the corpus contains the digit-suffixed base
    # token 'alpha1'. Under the old bare-digit suffix, doc 0's replica-1
    # mutation of 'alpha' was ALSO 'alpha1' — a base↔replica shared
    # token inflating cross-replica dup density. With the separator,
    # NO token of base doc 1 appears anywhere in doc 0's replica set.
    doc0_replica_tokens = set(texts[10_000_000].split()) | set(texts[20_000_000].split())
    assert not (set(texts[1].split()) & doc0_replica_tokens)


def test_replica_dir_routes_documents_through_mutation(spark, tmp_path):
    """build_replica_dir must apply MUTATE_COLS when it WRITES the
    documents replica — a curve run goes through this path, not
    replicate_table directly, so a regression here (e.g. dropping the
    mutate_cols pass-through) would silently revert dedup curves to
    the exploding-dup-density regime while the unit pin above stays
    green. Missing tables are skipped (the loop tolerates partial
    corpora), and non-fact tables are symlinked, not copied."""
    import os

    from tools.replica_scale import ID_OFFSET, build_replica_dir

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(0, "alpha beta"), (1, "gamma delta")], "doc_id long, text string"
    ).write.parquet(str(src / "documents.parquet"))
    spark.createDataFrame([(0, "AFRICA")], "r_regionkey long, r_name string").write.parquet(
        str(src / "region.parquet")
    )
    out = build_replica_dir(spark, str(src), 2, str(tmp_path / "x2"), ("documents",))
    texts = {
        r.doc_id: r.text
        for r in spark.read.parquet(os.path.join(out, "documents.parquet")).collect()
    }
    assert texts[0] == "alpha beta" and texts[ID_OFFSET] == "alpha_r1 beta_r1"
    assert texts[1] == "gamma delta" and texts[ID_OFFSET + 1] == "gamma_r1 delta_r1"
    # Non-fact tables arrive as symlinks to the base corpus (zero copy).
    assert os.path.islink(os.path.join(out, "region.parquet"))
    # Tables absent from the base corpus are skipped, not erred on.
    assert not os.path.exists(os.path.join(out, "lineitem.parquet"))


def test_replica_dir_symlinks_survive_relative_sf_dir(spark, tmp_path, monkeypatch):
    """ADVICE r12: a relative --sf-dir used to be symlinked verbatim,
    so the link target resolved relative to the TEMPDIR out_dir —
    a broken link and a confusing downstream read failure.
    build_replica_dir now abspaths the source once at entry; the
    symlinked table must be readable from the replica dir."""
    import os

    from tools.replica_scale import build_replica_dir

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame([(0, "AFRICA")], "r_regionkey long, r_name string").write.parquet(
        str(src / "region.parquet")
    )
    monkeypatch.chdir(tmp_path)
    out = build_replica_dir(spark, "src", 2, str(tmp_path / "deep" / "x2"), ())
    link = os.path.join(out, "region.parquet")
    assert os.path.islink(link) and os.path.exists(link)  # exists() follows the link
    assert spark.read.parquet(link).count() == 1


def test_replica_scale_rejects_ids_at_or_above_offset(spark):
    """ADVICE r12: ID_OFFSET (10M) is pinned to the sf0.1 corpus, but
    --sf-dir accepts any corpus — at sf10, l_orderkey reaches 60M and
    replica keys would silently collide, corrupting join fanout and
    the measured curve. replicate_table now verifies max(id) <
    ID_OFFSET with one cheap agg and fails loudly."""
    from pyspark.sql import functions as F

    from tools.replica_scale import ID_OFFSET, replicate_table

    bad = spark.range(2).select((F.col("id") + ID_OFFSET).alias("doc_id"))
    with pytest.raises(ValueError, match="replica id collision"):
        replicate_table(bad, 2, ["doc_id"])
    # factor=1 never offsets, so oversized ids are fine there (identity).
    assert replicate_table(bad, 1, ["doc_id"]).count() == 2
    # Boundary: max == ID_OFFSET - 1 is the last legal corpus.
    ok = spark.range(1).select(F.lit(ID_OFFSET - 1).cast("long").alias("doc_id"))
    assert replicate_table(ok, 2, ["doc_id"]).count() == 2


def test_bench_standing_targets_are_evaluable():
    """Standing ceilings (VERDICT r13 #3) must be decidable from the
    record: every TARGETS entry names a measured BENCH_QUERIES member
    whose slot runs at n>=5 (the 1.35x intra-spread adjudication rule
    is a coin flip below that), and the three repinned dedup entries
    carry the new post-pin ceilings so their drift is target-evaluable
    from r14 on."""
    import bench

    for q, ceiling in bench.TARGETS.items():
        assert q in bench.BENCH_QUERIES, q
        assert q in bench.BRACKETED and bench.BRACKET_N >= 5, f"{q}: targets need n>=5"
        assert ceiling > 0
    for q in (
        "x02_dedup_ngram_jaccard",
        "x04_dedup_minhash_lsh",
        "x54_incremental_dedup",
        "x38_containment",
    ):
        assert q in bench.TARGETS
    # ADVICE r14: an UNMEASURED target must record over=None (explicit
    # unknown), never False — and a measured one must adjudicate both
    # ways with its slot spread attached.
    some_q = "x38_containment"
    blk = bench.targets_block(
        {some_q: bench.TARGETS[some_q] + 1.0}, {some_q: (1.0, 1.2)}
    )
    assert blk[some_q]["over"] is True and blk[some_q]["slot_spread"] == 1.2
    assert blk[some_q]["median"] == bench.TARGETS[some_q] + 1.0
    under = bench.targets_block({some_q: 0.1}, {})
    assert under[some_q]["over"] is False and under[some_q]["slot_spread"] is None
    missing = bench.targets_block({}, {})
    for q in bench.TARGETS:
        assert missing[q]["over"] is None and missing[q]["median"] is None


def test_solo_recheck_adjudicates_flagged_slots():
    """The resolution arm of the slot-contention protocol (VERDICT r12
    #1): every r12 flag (x18/x43 driver window, q1/x32 window E) needed
    a manual solo pass — solo_recheck() is that pass, run by bench
    itself after the main loop and recorded under
    BENCH_DETAIL["slot_recheck"]. A solo bracket whose own spread is
    back under SLOT_SPREAD_LINE adjudicates the flag as contention
    (resolved=True, median is the reading); a persisting spread means
    a genuinely high-variance plan (resolved=False)."""
    import bench

    seq = {
        # contention case: solo runs are tight around 1.0
        "x18": iter([1.02, 0.98, 1.05, 1.00, 1.01]),
        # real-variance case: spread persists with the box quiet
        "x43": iter([1.0, 2.0, 1.1, 1.9, 1.5]),
    }
    rec = bench.solo_recheck({"x18": 8.21, "x43": 1.53}, lambda n: next(seq[n]), n=5)
    assert set(rec) == {"x18", "x43"}
    assert rec["x18"]["resolved"] is True
    assert rec["x18"]["median"] == 1.01
    assert rec["x18"]["bracket"] == [0.98, 1.05]
    assert rec["x18"]["n"] == 5 and rec["x18"]["spread"] == 1.07
    assert rec["x43"]["resolved"] is False
    assert rec["x43"]["spread"] == 2.0
    # Empty flags → empty record, no runs consumed.
    assert bench.solo_recheck({}, lambda n: 1 / 0) == {}


def test_recheck_with_context_samples_canary_after_rechecks():
    """r13: window B's q1/x34 solo rechecks read resolved=False with
    in-family medians because the host burst SPANNED the recheck —
    ambiguous without canary context. recheck_with_context runs the
    rechecks, then ONE min-of-2 sample of each canary (e08, then py),
    and ships all three; the canaries must run AFTER the last recheck
    (they contextualize the recheck period, not the main loop) and not
    at all when nothing was flagged."""
    import bench

    order = []

    def run_fn(name):
        order.append(name)
        return 1.0

    def canary_fn():
        order.append("canary")
        return 0.18

    def py_canary_fn():
        order.append("py")
        return 0.25

    rec, canary, py = bench.recheck_with_context(
        {"q1": 1.58}, run_fn, canary_fn, py_canary_fn, n=3
    )
    assert rec["q1"]["resolved"] is True and canary == 0.18 and py == 0.25
    # canaries strictly after the rechecks
    assert order == ["q1"] * 3 + ["canary"] * 2 + ["py"] * 2
    # No flags → no recheck, no canary runs consumed.
    assert bench.recheck_with_context({}, run_fn, lambda: 1 / 0, lambda: 1 / 0) == (
        {}, None, None,
    )


def test_run_curve_absorbs_query_jit_before_first_point(spark, tmp_path, monkeypatch):
    """r13: a canary-only session absorber left an x04 sweep's x1 point
    reading 4.0 s min while its 5× point read 2.6 s — non-monotonic,
    i.e. the first point measured the query's own first-call codegen,
    not the plan (the driver_sim r12 absorber lesson, re-learned in the
    curve tool). run_curve must run the QUERY once untimed on the base
    dir before any point is timed, and ship that duration as
    ``absorber`` in the record. Call accounting: with factors=[1],
    runs=1 the query fn runs absorber + warmup + 1 = 3 times, and the
    absorber call is the FIRST and targets the base sf_dir."""
    import os

    from sql_engine_spark import matrix
    from tools import replica_scale as RS

    src = tmp_path / "src"
    src.mkdir()
    spark.createDataFrame(
        [(0, "alpha beta"), (1, "gamma delta")], "doc_id long, text string"
    ).write.parquet(str(src / "documents.parquet"))

    calls = []

    def fake_query(sp, sf_dir):
        calls.append(os.path.abspath(sf_dir))
        return sp.read.parquet(os.path.join(sf_dir, "documents.parquet"))

    monkeypatch.setitem(matrix.QUERIES, "fake_curve_query", fake_query)
    monkeypatch.setitem(
        matrix.QUERIES, RS.CANARY_QUERY, lambda sp, d: sp.range(1)
    )
    curve = RS.run_curve(
        spark, "fake_curve_query", [1], str(src), runs=1, fact_tables=("documents",)
    )
    assert curve["absorber"] >= 0 and calls[0] == os.path.abspath(str(src))
    assert len(calls) == 3  # absorber + x1 warmup + x1 measured run
    assert calls[1] != calls[0]  # points run on the replica dir, not base


def test_train_max_zero_raises_value_error():
    """ADVICE r12: after the r12 None-test fix, train_max=0 meant
    limit(0) → empty training matrix → an opaque numpy failure inside
    _lloyd_np. The quantizer now rejects train_max < 1 loudly, for
    every caller (ivf_ingest routes through it)."""
    from sql_engine_spark.operators.similarity import _train_spherical_quantizer

    with pytest.raises(ValueError, match="train_max must be >= 1"):
        _train_spherical_quantizer(None, "id", "v", 4, 7, train_max=0)
    with pytest.raises(ValueError, match="train_max must be >= 1"):
        _train_spherical_quantizer(None, "id", "v", 4, 7, train_max=-5)


def test_prefix_order_default_is_df():
    """Every public near-dup entry point must DEFAULT to the
    document-frequency ('df') prefix order — the hot-shingle skew
    defence. 'hash' stays available as the documented one-pass
    option, but a refactor must not silently flip the default
    (VERDICT r2 item 9). Containment has no option and always uses df
    order; test_pipeline_ops' hot-shingle test pins that by behaviour
    (it fails with hash-ordered containment prefixes)."""
    import inspect

    from sql_engine_spark.operators import dedup as D

    assert inspect.signature(D.ngram_jaccard_pairs).parameters["prefix_order"].default == "df"


def test_glob_backtick_does_not_arm_later_literal():
    """A backtick identifier after GLOB must consume the pending-GLOB
    state: the next unrelated string literal in the query must NOT be
    rewritten into an anchored regex."""
    from sql_engine_spark.sql.dialect import normalize_query

    q = "SELECT * FROM t WHERE a GLOB `p` AND b == 'x*'"
    out = normalize_query(q)
    assert "'x*'" in out, out          # literal untouched
    assert "^x" not in out, out        # no regex leak
    # and identifiers containing marker characters stay opaque
    q2 = 'SELECT `a@b` FROM t WHERE `c$d` == 1'
    out2 = normalize_query(q2)
    assert "`a@b`" in out2 and "`c$d`" in out2


def test_multimodal_quarantine_poison_payloads(spark):
    """VERDICT r3 #5: with strict=False one corrupt blob must NOT kill
    the job — every decode-touching stage (the x16/x26/x32/x63 code
    paths) completes, flags the poison row with a non-null `error`,
    and leaves healthy rows bit-identical to strict mode. strict=True
    (the oracle-checked default) must still raise."""
    import pytest as _pytest
    from pyspark.sql import functions as F
    from pyspark.sql.utils import PythonException

    from sql_engine_spark.operators.multimodal import (
        encode_text_as_png,
        extract_features,
        frame_sample,
        image_avg_hash,
        image_dup_pairs,
        image_stats,
        resize_images,
    )

    docs = spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"), (3, "delta")],
        "doc_id long, text string",
    )
    good = encode_text_as_png(docs)
    # poison: claims image/png mime but carries garbage bytes
    bad = spark.createDataFrame([(99,)], "doc_id long").select(
        "doc_id",
        F.encode(F.lit("NOT A PNG AT ALL"), "UTF-8").alias("payload"),
        F.create_map(F.lit("mime"), F.lit("image/png")).alias("meta"),
    )
    mixed = good.unionByName(bad)

    # x32 path (image_stats), x16 path (extract_features), x26 path
    # (resize_images), frame path (frame_sample): all complete with
    # exactly one flagged row and all healthy rows intact.
    for op in (image_stats, extract_features, resize_images, frame_sample):
        out = op(mixed, strict=False).collect()
        flagged = [r for r in out if r.error is not None]
        assert [r.doc_id for r in flagged] == [99], op.__name__
        assert all(r.error is None for r in out if r.doc_id != 99), op.__name__
        healthy_ids = {r.doc_id for r in out if r.doc_id != 99}
        assert healthy_ids == {1, 2, 3}, op.__name__
        # strict mode still surfaces the poison as a task failure
        with _pytest.raises(PythonException):
            op(mixed, strict=True).collect()

    # x63 path: signatures flag the poison row; the pair miner filters
    # it and still finds the planted identical-text image pair.
    sigs = {r.id: r for r in image_avg_hash(mixed, strict=False).collect()}
    assert sigs[99].error is not None and sigs[99].band0 is None
    pairs = {(r.id_a, r.id_b) for r in image_dup_pairs(mixed, strict=False).collect()}
    assert (1, 2) in pairs
    assert all(99 not in p for p in pairs)


def test_image_stats_unparseable_dims_surface_explicitly(spark):
    """A payload media_info cannot size (a WAV: valid header, no
    dimensions) must FAIL image_stats in strict mode — the strict
    contract says problems surface, and relying on a dtype coercion
    error was incidental — and become the (id, error) row in
    quarantine mode."""
    import pytest as _pytest
    from pyspark.sql import functions as F
    from pyspark.sql.utils import PythonException

    from sql_engine_spark.operators.multimodal import image_stats

    wav = b"RIFF" + b"\x00\x00\x00\x00" + b"WAVE" + b"\x00" * 8
    df = spark.createDataFrame([(5,)], "doc_id long").select(
        "doc_id",
        F.lit(wav).alias("payload"),
        F.create_map(F.lit("mime"), F.lit("audio/wav")).alias("meta"),
    )
    with _pytest.raises(PythonException):
        image_stats(df, strict=True).collect()
    out = image_stats(df, strict=False).collect()
    assert len(out) == 1 and out[0].error is not None and out[0].width is None


def test_driver_order_matches_registered_matrix():
    """_DRIVER_ORDER is the driver's correctness-budget allocator: a
    dangling name (after an entry rename) or a missing one must fail
    loudly here, not silently reshuffle which entries get official
    rows. Unknown-to-list entries would sort FIRST (safe for brand-new
    entries mid-round), but the committed state must be exact."""
    import __spark_entry__ as E
    from sql_engine_spark import matrix

    order = E._DRIVER_ORDER
    assert len(order) == len(set(order)), "duplicate names in _DRIVER_ORDER"
    assert set(order) == set(matrix.QUERIES), (
        sorted(set(order) - set(matrix.QUERIES)),
        sorted(set(matrix.QUERIES) - set(order)),
    )
    # every oracle key is a registered query
    assert set(matrix.ORACLE) <= set(matrix.QUERIES)


def test_oracle_builders_consistent_with_static_strings():
    """Data-dependent oracles (r9): exactly the three literal-centroid
    replays register a builder, every builder also registered its
    static sf0.01 string (the driver contract), and the static string
    IS the builder's output at the driver sf — so what the driver runs
    and what oracle_for_sf regenerates can never drift."""
    from sql_engine_spark import matrix

    assert set(matrix.ORACLE_BUILDERS) == {
        "x18_sim_ivf",
        "x59_semantic_dedup",
        "x60_kmeans_refine",
    }
    # no builder failed at import: a non-empty record means a hard
    # oracle silently became a rows-only check (matrix.query warns,
    # this pins it to zero wherever tests run).
    assert matrix.ORACLE_BUILD_FAILURES == {}
    for name, builder in matrix.ORACLE_BUILDERS.items():
        assert name in matrix.ORACLE
        assert matrix.ORACLE[name] == builder(matrix.DRIVER_SF_DIR)
        assert matrix.oracle_for_sf(name, matrix.DRIVER_SF_DIR) == matrix.ORACLE[name]
    # non-builder entries pass through unchanged
    assert matrix.oracle_for_sf("x06_sim_topk_brute", "/root/testdata/sf0.001") == matrix.ORACLE[
        "x06_sim_topk_brute"
    ]


def test_driver_sim_hard_fails_on_builder_failure(monkeypatch):
    """VERDICT r9 #6: driver_sim must exit non-zero (not stderr-warn)
    when any oracle_builder failed at import — otherwise a
    missing-testdata downgrade produces a silently-green rows-only
    sim. The symmetric pytest pin (above) covers test runs; this
    covers the sim's own entry path."""
    import os as _os

    monkeypatch.syspath_prepend(
        _os.path.join(_os.path.dirname(_os.path.dirname(_os.path.abspath(__file__))), "tools")
    )
    import driver_sim

    driver_sim.assert_oracles_built()  # clean state: no-op
    monkeypatch.setattr(
        driver_sim._m, "ORACLE_BUILD_FAILURES", {"x18_sim_ivf": "FileNotFoundError(...)"}
    )
    import pytest

    with pytest.raises(SystemExit, match="x18_sim_ivf"):
        driver_sim.assert_oracles_built()


def test_shuffle_conf_parse_is_defensive(spark):
    """ADVICE r6: "0" / "-1" conf values must fall back (repartition(n
    <= 0) raises), alongside the r4/r5 non-numeric and whitespace
    cases. The fallback is the cluster's defaultParallelism; when that
    is unreadable too (Spark Connect), the answer is None. Degenerate
    values are injected through a stub session: local Spark validates
    conf.set("...partitions", "auto") eagerly, but managed platforms
    DO surface such strings through conf.get — the stub models that
    read path."""
    from sql_engine_spark.session import shuffle_partitions

    class _Ctx:
        defaultParallelism = 5

    class _Stub:
        def __init__(self, raw, ctx=_Ctx()):
            self.conf = self
            self._raw = raw
            self._ctx = ctx

        def get(self, key, default=None):
            if isinstance(self._raw, Exception):
                raise self._raw
            return self._raw

        @property
        def sparkContext(self):
            if self._ctx is None:
                raise RuntimeError("no SparkContext on a Connect driver")
            return self._ctx

    for raw, want in [
        ("auto", 5),
        ("0", 5),
        ("-1", 5),
        (" 1024 ", 1024),
        ("2048\n", 2048),
        ("7", 7),
        (RuntimeError("conf.get unavailable"), 5),
    ]:
        assert shuffle_partitions(_Stub(raw)) == want, raw
    # neither the conf nor defaultParallelism is readable
    assert shuffle_partitions(_Stub(RuntimeError("no conf"), ctx=None)) is None
    assert shuffle_partitions(_Stub("auto", ctx=None)) is None
    # real-session sanity: the live conf (an int string) parses
    assert shuffle_partitions(spark) == int(spark.conf.get("spark.sql.shuffle.partitions"))


def test_png_stored_deflate_layout_and_multiblock_roundtrip():
    """The r8 stored-deflate encoder contract: (a) sub-64 KiB payloads
    carry ONE stored block, so pixel bytes sit at the documented fixed
    offsets (48-byte header, then h scanlines of 1+width*3 bytes) —
    the property the x63 DuckDB oracle's text-domain replay rests on;
    (b) filtered data past 65535 bytes spans MULTIPLE stored blocks and
    still roundtrips (zlib reads them transparently)."""
    import struct

    from sql_engine_spark.operators.multimodal import png_decode, png_encode

    # (a) single-block layout: width 16 like encode_text_as_png
    w, h = 16, 7
    pixels = bytes((x * 131 + 5) % 256 for x in range(w * h * 3))
    png = png_encode(pixels, w, h)
    (idat_len,) = struct.unpack(">I", png[33:37])
    assert png[37:41] == b"IDAT"
    # zlib hdr (2) + stored-block hdr (5) + filtered data + adler (4)
    assert idat_len == 2 + 5 + h * (1 + w * 3) + 4
    assert png[43] == 0x01  # BFINAL=1, BTYPE=00 (stored)
    stride = w * 3
    for y in range(h):
        off = 48 + y * (1 + stride)
        assert png[off] == 0  # filter byte
        assert png[off + 1 : off + 1 + stride] == pixels[y * stride : (y + 1) * stride]
    assert png_decode(png) == (w, h, pixels)

    # (b) multi-block: 120 rows x 200 px x 3 = 72 KB filtered > 65535
    w, h = 200, 120
    pixels = bytes((x * 31 + y) % 256 for y in range(h) for x in range(w * 3))
    png = png_encode(pixels, w, h)
    assert h * (1 + w * 3) > 65535  # genuinely spans >1 stored block
    assert png_decode(png) == (w, h, pixels)


def test_window_rank_prefers_gate_passing_window():
    """ADVICE r15: the re-measure pick was lexicographic
    (spread, py_spread), so when the py canary bought the re-measure,
    a second window passing BOTH gates was discarded if its e08 spread
    was even marginally higher — e.g. first 1.10/1.60 vs re-measure
    1.12/1.25 kept the dirty first window and shipped a false
    uncertified verdict with a clean window in hand. window_rank
    selects on gate outcome first, then normalized worst ratio."""
    import bench

    # The advisory's exact case: re-measure passes both gates, first
    # window fails the py gate — re-measure must rank strictly better
    # despite its higher raw e08 spread.
    assert bench.window_rank(1.12, 1.25) < bench.window_rank(1.10, 1.60)
    # Both windows fail a gate: tie-break on the normalized WORST
    # ratio, not raw lexicographic order — a 1.10/1.93 window (py
    # 1.29× over) is worse than 1.25/1.55 (e08 1.04× over).
    assert bench.window_rank(1.25, 1.55) < bench.window_rank(1.10, 1.93)
    # Both pass: the window closer to clean on its worst gate wins;
    # e08-vs-py units are normalized by their own clean lines.
    assert bench.window_rank(1.05, 1.10) < bench.window_rank(1.18, 1.10)
    # Rank agrees with the certification predicate emit() stamps.
    passes, _ = bench.window_rank(bench.CANARY_CLEAN, bench.PY_CANARY_CLEAN)
    assert passes is False  # exactly-at-the-line certifies
    fails, _ = bench.window_rank(bench.CANARY_CLEAN + 0.01, 1.0)
    assert fails is True


def test_scaled_join_partitions_degrades_without_spark_context():
    """ADVICE r15: the r15 ``defaultParallelism`` fallback ran inside
    the except handler, so on a driver without a local SparkContext
    (Spark Connect — where conf.get can be the very thing that raised)
    the helper RAISED where pre-r15 code degraded to None (unscaled
    but working). Both conf surfaces unavailable → None, no raise."""
    from sql_engine_spark.operators import dedup as D

    class _NoCtxSession:
        class conf:
            @staticmethod
            def get(key):
                raise RuntimeError("Spark Connect: no driver-side conf")

        @property
        def sparkContext(self):
            raise RuntimeError("Spark Connect: no driver-side SparkContext")

    class _Df:
        _corpus_input_bytes = 10 << 30  # far above the sizing envelope
        sparkSession = _NoCtxSession()

    assert D.scaled_join_partitions(_Df()) is None


def test_image_signatures_keep_source_input_bytes(spark, sf_dir):
    """x63's banded hamming join sizes its partitions from the aHash
    signature frame itself: the mapInPandas stages must not hide the
    parquet scan from ``inputFiles()``, or the corpus-scaled partition
    count silently falls back to the session conf."""
    from sql_engine_spark.catalog import load_table
    from sql_engine_spark.operators import dedup as D
    from sql_engine_spark.operators.multimodal import encode_text_as_png, image_avg_hash

    docs = load_table(spark, sf_dir, "documents")
    payload = encode_text_as_png(docs)
    src = D._input_bytes(payload)
    assert src is not None and src == D._input_bytes(docs)
    assert D._input_bytes(image_avg_hash(payload)) == src


def test_memo_builds_uncached_without_session_uuid():
    """The dedup memos are keyed by the JVM session UUID. A session
    whose UUID cannot be read must not fall back to ``id(session)``,
    which a new session can reuse after the old one is collected: the
    artifact builds on every call and the memo stays empty."""
    from types import SimpleNamespace

    from sql_engine_spark.operators import dedup as D

    class Built:
        def persist(self, level):
            return self

    df = SimpleNamespace(
        sparkSession=SimpleNamespace(),  # no _jsparkSession
        semanticHash=lambda: 42,
        schema=SimpleNamespace(simpleString=lambda: "struct<doc_id:bigint>"),
        inputFiles=lambda: [],
    )
    memo: dict = {}
    builds = []

    def build():
        builds.append(1)
        return Built()

    first = D._memo_persist(memo, ("k",), df, build)
    second = D._memo_persist(memo, ("k",), df, build)
    assert len(builds) == 2 and first is not second
    assert memo == {}


def test_bench_ann_recall_keys_fracs_and_determinism(spark, sf_dir):
    """bench._ann_recall emits one block per operating point on the
    base corpus plus the planted-neighbor corpus, each from the same
    recall routine: fixed key set, IVF probe fraction p/16, every value
    a fraction, and a second call returns the same record."""
    import bench

    rec = bench._ann_recall(spark, sf_dir)
    assert set(rec) == {"srp_h0", "srp_h1", "srp_h2", "ivf_p4", "ivf_p12", "planted"}
    assert set(rec["planted"]) == {"srp_h0", "srp_h1", "ivf_p4"}
    for block in (rec, rec["planted"]):
        for name, point in block.items():
            if name.startswith("ivf_p"):
                assert point["probe_frac"] == int(name[len("ivf_p"):]) / 16
            if name == "planted":
                continue
            assert set(point) in ({"recall_at_10", "scan_frac"}, {"recall_at_10", "probe_frac"})
            assert all(0.0 <= v <= 1.0 for v in point.values()), (name, point)
    assert bench._ann_recall(spark, sf_dir) == rec


# Public engine defs that no engine, bench, tools or perfbench code
# calls yet, each kept for a documented reason.
_UNREACHED_ALLOWED = {
    # IVF ingest and pre-partitioned top-k: the 100 TB path of the ANN
    # index, which no sf-sized workload needs (SCALE.md:280).
    "ivf_ingest",
    "ivf_topk_prepartitioned",
    # Mergeable distinct sketch (SCALE.md:531); the portable-HLL test
    # compares against it.
    "mergeable_distinct",
    # Exactly-once stream-to-parquet sink (SURVEY.md:625).
    "stream_to_parquet_exactly_once",
}


def _is_query_entry(fn) -> bool:
    for d in fn.decorator_list:
        target = d.func if isinstance(d, ast.Call) else d
        if isinstance(target, ast.Name) and target.id == "query":
            return True
    return False


def test_every_public_engine_def_is_reached_from_non_test_code():
    """No code that only tests reach: every public top-level ``def``
    under ``sql_engine_spark/`` is referenced by name (a ``Name``,
    ``Attribute`` or import alias) from engine modules, ``bench.py``,
    ``tools/``, ``__spark_entry__.py`` or non-test ``perfbench/`` files.
    Import aliases in package ``__init__`` files are re-exports and do
    not count; ``@query`` matrix entries are reached through the
    registry. Matching by name can only miss an unreached def whose
    name is also used elsewhere, never fail a reached one."""
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    engine = sorted((root / "sql_engine_spark").rglob("*.py"))
    sources = engine + [root / "bench.py", root / "__spark_entry__.py"]
    sources += sorted((root / "tools").glob("*.py"))
    sources += [p for p in sorted((root / "perfbench").glob("*.py")) if not p.name.startswith("test_")]

    referenced: set[str] = set()
    for path in sources:
        reexports = path.name == "__init__.py"
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if isinstance(node, ast.Name):
                referenced.add(node.id)
            elif isinstance(node, ast.Attribute):
                referenced.add(node.attr)
            elif isinstance(node, ast.alias) and not reexports:
                referenced.update(node.name.split("."))

    unreached = {}
    for path in engine:
        for node in ast.parse(path.read_text(), str(path)).body:
            if (
                isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef))
                and not node.name.startswith("_")
                and not _is_query_entry(node)
                and node.name not in referenced
            ):
                unreached[node.name] = f"{path.relative_to(root)}:{node.lineno} {node.name}"
    extra = sorted(v for k, v in unreached.items() if k not in _UNREACHED_ALLOWED)
    assert not extra, "public defs only tests reach:\n" + "\n".join(extra)
    # An allowlisted def that is now reached (or gone) leaves the list.
    assert set(unreached) == _UNREACHED_ALLOWED, sorted(_UNREACHED_ALLOWED - set(unreached))


def test_only_session_module_writes_session_conf():
    """No operator path writes a session conf: the only call of the form
    ``<x>.conf.set(...)`` under ``sql_engine_spark/`` is in
    ``session.py`` (``pin_session_confs``), so a query planned on a
    shared session never sees a value another call set meanwhile."""
    from pathlib import Path

    root = Path(__file__).resolve().parents[1]
    allowed = root / "sql_engine_spark" / "session.py"
    writes = []
    for path in sorted((root / "sql_engine_spark").rglob("*.py")):
        if path == allowed:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "set"
                and isinstance(node.func.value, ast.Attribute)
                and node.func.value.attr == "conf"
            ):
                writes.append(f"{path.relative_to(root)}:{node.lineno}")
    assert not writes, "session conf written outside session.py:\n" + "\n".join(writes)
