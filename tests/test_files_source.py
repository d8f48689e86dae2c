"""Filesystem document sources (sources/files.py) — the reference's
primary input workflow: point the engine at a DIRECTORY of real files
with a glob (DirectoryDocumentSource.cs:69-76), read one file
(SingleFileDocumentSource.cs:56-64), or tail the directory as a change
stream (the FileSystemWatcher twin)."""

import pytest

from textindexing_spark.operators.build import build_index
from textindexing_spark.sources.files import (decode_bytes, read_directory,
                                              read_file, stream_directory)

RU = "Гиперо́ним слово с более широким значением"


@pytest.fixture()
def corpus_dir(tmp_path):
    (tmp_path / "a.txt").write_text("hello world alpha", encoding="utf-8")
    # UTF-8 BOM (the reference's Hyperonim.txt shape, SURVEY.md §5.4)
    (tmp_path / "b.txt").write_bytes(RU.encode("utf-8-sig"))
    # Windows-1251 (the reference's Text.txt shape)
    (tmp_path / "c.txt").write_bytes(RU.encode("cp1251", "ignore"))
    (tmp_path / "notes.md").write_text("excluded by glob", encoding="utf-8")
    sub = tmp_path / "sub"
    sub.mkdir()
    (sub / "d.txt").write_text("nested document", encoding="utf-8")
    return tmp_path


def test_decode_bytes_bom_and_fallback():
    assert decode_bytes("hi".encode("utf-8-sig")) == "hi"
    assert decode_bytes(RU.encode("utf-8-sig")) == RU
    assert decode_bytes("hi".encode("utf-16")) == "hi"  # utf-16 writes a BOM
    ru_1251 = RU.encode("cp1251", "ignore")
    assert decode_bytes(ru_1251, "cp1251") == RU.replace("\u0301", "")
    # wrong default never raises: replacement chars, task survives (P7)
    assert "�" in decode_bytes(b"\xfd junk \xff", "utf-8")
    assert decode_bytes(None) is None


def test_read_directory_glob_recursion_and_decoding(spark, corpus_dir):
    df = read_directory(spark, str(corpus_dir), "*.txt")
    rows = {r["url"].rsplit("/", 1)[-1]: r for r in df.collect()}
    assert set(rows) == {"a.txt", "b.txt", "c.txt", "d.txt"}  # .md pruned
    assert rows["a.txt"]["text"] == "hello world alpha"
    assert rows["b.txt"]["text"] == RU          # BOM detected + stripped
    assert rows["b.txt"]["html"].startswith(b"\xef\xbb\xbf")  # raw kept
    assert rows["a.txt"]["warc_ts"] is not None
    # non-recursive stays at the top level
    flat = read_directory(spark, str(corpus_dir), "*.txt", recursive=False)
    assert flat.count() == 3
    # configured default encoding decodes the cp1251 file
    ru = read_directory(spark, str(corpus_dir), "c.txt",
                        default_encoding="cp1251")
    assert ru.collect()[0]["text"] == RU.replace("\u0301", "")


def test_read_directory_rejects_invalid_glob(spark, corpus_dir):
    with pytest.raises(ValueError, match="invalid characters"):
        read_directory(spark, str(corpus_dir), "a<b*.txt")


def test_read_file_point_and_missing(spark, corpus_dir):
    one = read_file(spark, str(corpus_dir / "a.txt"))
    assert [r["text"] for r in one.collect()] == ["hello world alpha"]
    missing = read_file(spark, str(corpus_dir / "nope.txt"))
    assert missing.count() == 0
    assert missing.columns == ["url", "warc_ts", "html", "text", "lang"]


def test_build_index_from_directory(spark, corpus_dir):
    """End-to-end S1: directory -> pages -> inverted index, identical to
    building from the same texts as an in-memory table."""
    pages = read_directory(spark, str(corpus_dir), "*.txt")
    docs = (pages.selectExpr("xxhash64(url) AS doc_id", "text"))
    idx = build_index(spark, docs)
    expected_texts = sorted(r["text"] for r in pages.collect())
    twin = build_index(spark, spark.createDataFrame(
        [(i, t) for i, t in enumerate(expected_texts)],
        "doc_id bigint, text string"))
    a = {(r["term"], len(r["postings"])) for r in idx.postings.collect()}
    b = {(r["term"], len(r["postings"])) for r in twin.postings.collect()}
    assert a == b
    assert ("hello", 1) in a


def test_stream_directory_matches_batch(spark, tmp_path):
    """The file-source change stream drains the same documents the batch
    reader sees (UTF-8 corpora), through the real ingestor path."""
    from textindexing_spark.streaming.ingest import StreamingIngestor

    src = tmp_path / "watched"
    src.mkdir()
    (src / "one.txt").write_text("alpha beta", encoding="utf-8")
    (src / "two.txt").write_text("beta gamma beta", encoding="utf-8")

    ing = StreamingIngestor(spark, str(tmp_path / "idx"))
    stream = stream_directory(spark, str(src), "*.txt")
    ing.ingest_available(stream, str(tmp_path / "ckpt"))
    idx = ing.index()
    terms = {r["term"] for r in idx.postings.collect()}
    assert terms == {"alpha", "beta", "gamma"}

    # a NEW file arrives: only it is processed on the next drain (S3)
    (src / "three.txt").write_text("delta", encoding="utf-8")
    ing.ingest_available(stream_directory(spark, str(src), "*.txt"),
                         str(tmp_path / "ckpt"))
    terms = {r["term"] for r in ing.index().postings.collect()}
    assert terms == {"alpha", "beta", "gamma", "delta"}


def test_stream_matches_batch_encoding(spark, tmp_path):
    """Watch-phase decoding must equal the bulk path byte-for-byte:
    the stream rides the same binaryFile + BOM/default-encoding decode,
    so a cp1251 or UTF-16 file indexes identically in either phase
    (pre-round-5 the stream was UTF-8-only and mojibake'd cp1251)."""
    src = tmp_path / "enc"
    src.mkdir()
    (src / "bom.txt").write_bytes(RU.encode("utf-8-sig"))
    (src / "w1251.txt").write_bytes(RU.encode("cp1251", "ignore"))
    (src / "u16.txt").write_bytes("hi".encode("utf-16"))  # writes a BOM

    got: list = []
    q = (stream_directory(spark, str(src), "*.txt",
                          default_encoding="cp1251")
         .writeStream.foreachBatch(lambda b, e: got.extend(b.collect()))
         .option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination()
    streamed = sorted((r.url, r.text, bytes(r.html)) for r in got)
    batch = sorted((r.url, r.text, bytes(r.html)) for r in
                   read_directory(spark, str(src), "*.txt",
                                  default_encoding="cp1251").collect())
    assert streamed == batch
    by_name = {u.rsplit("/", 1)[-1]: t for u, t, _ in streamed}
    assert by_name["bom.txt"] == RU
    assert by_name["w1251.txt"] == RU.replace("́", "")
    assert by_name["u16.txt"] == "hi"


def test_reconcile_directory_overwrite_and_delete(spark, tmp_path):
    """In-place file modification is invisible to the path-keyed file
    stream; reconcile_directory's (url, mtime, length) fingerprint pass
    must re-index the overwritten file and tombstone the deleted one,
    leaving the stream-maintained index equal to a bulk rebuild
    (≙ FileSystemWatcher Changed/Deleted events,
    FileSystemDocumentSource.cs:120-140)."""
    import os

    from textindexing_spark.streaming.ingest import StreamingIngestor

    src = tmp_path / "watched"
    src.mkdir()
    (src / "one.txt").write_text("alpha beta", encoding="utf-8")
    (src / "two.txt").write_text("gamma delta", encoding="utf-8")

    ing = StreamingIngestor(spark, str(tmp_path / "idx"))
    ing.ingest_available(stream_directory(spark, str(src), "*.txt"),
                         str(tmp_path / "ckpt"))
    # first reconcile: records fingerprints, re-indexes nothing
    v0 = ing.reconcile_directory(str(src), "*.txt")
    assert {r["term"] for r in ing.index().postings.collect()} == {
        "alpha", "beta", "gamma", "delta"}

    # overwrite IN PLACE (force a later mtime: fs timestamps are coarse)
    (src / "one.txt").write_text("epsilon zeta", encoding="utf-8")
    st = os.stat(src / "one.txt")
    os.utime(src / "one.txt", (st.st_atime, st.st_mtime + 5))
    # the stream sees nothing new — path already known
    ing.ingest_available(stream_directory(spark, str(src), "*.txt"),
                         str(tmp_path / "ckpt"))
    assert "epsilon" not in {
        r["term"] for r in ing.index().postings.collect()}
    # ...the reconcile pass does
    v1 = ing.reconcile_directory(str(src), "*.txt")
    assert v1 > v0
    assert {r["term"] for r in ing.index().postings.collect()} == {
        "epsilon", "zeta", "gamma", "delta"}

    # delete a file: the next reconcile tombstones it
    (src / "two.txt").unlink()
    v2 = ing.reconcile_directory(str(src), "*.txt")
    assert v2 > v1
    terms = {r["term"] for r in ing.index().postings.collect()}
    assert terms == {"epsilon", "zeta"}

    # the maintained index now equals a bulk rebuild of the directory
    bulk = build_index(spark, read_directory(
        spark, str(src), "*.txt").selectExpr(
        "xxhash64(url) AS doc_id", "text"))
    a = sorted((r["term"], len(r["postings"]))
               for r in ing.index().postings.collect())
    b = sorted((r["term"], len(r["postings"]))
               for r in bulk.postings.collect())
    assert a == b
    # idempotence: nothing moved, version stays put
    assert ing.reconcile_directory(str(src), "*.txt") == v2


def test_reconcile_directory_content_hash(spark, tmp_path):
    """An overwrite preserving BOTH mtime and length defeats the cheap
    (url, mtime, length) fingerprint; content_hash=True must still
    re-index it. Negative control first: the unhashed reconcile misses
    the same overwrite (its documented blind spot)."""
    import os

    from textindexing_spark.streaming.ingest import StreamingIngestor

    def make_watch(name):
        src = tmp_path / f"{name}_src"
        src.mkdir()
        (src / "doc.txt").write_text("alpha beta", encoding="utf-8")
        ing = StreamingIngestor(spark, str(tmp_path / f"{name}_idx"))
        ing.ingest_available(stream_directory(spark, str(src), "*.txt"),
                             str(tmp_path / f"{name}_ckpt"))
        return src, ing

    def stealth_overwrite(src, text="gamma delt"):
        # same byte length, same mtime (restored at ns precision)
        st = os.stat(src / "doc.txt")
        (src / "doc.txt").write_text(text, encoding="utf-8")
        os.utime(src / "doc.txt", ns=(st.st_atime_ns, st.st_mtime_ns))
        assert os.stat(src / "doc.txt").st_size == st.st_size
        assert os.stat(src / "doc.txt").st_mtime_ns == st.st_mtime_ns

    # negative control: mtime/length fingerprint cannot see it
    src, ing = make_watch("plain")
    v0 = ing.reconcile_directory(str(src), "*.txt")
    stealth_overwrite(src)
    assert ing.reconcile_directory(str(src), "*.txt") == v0
    assert {r["term"] for r in ing.index().postings.collect()} == {
        "alpha", "beta"}

    # hashed fingerprint catches it
    src, ing = make_watch("hashed")
    v0 = ing.reconcile_directory(str(src), "*.txt", content_hash=True)
    stealth_overwrite(src)
    v1 = ing.reconcile_directory(str(src), "*.txt", content_hash=True)
    assert v1 > v0
    assert {r["term"] for r in ing.index().postings.collect()} == {
        "gamma", "delt"}
    # idempotent once reconciled
    assert ing.reconcile_directory(str(src), "*.txt",
                                   content_hash=True) == v1

    # mode transition: an unhashed pass rewrote hash-free state; the
    # next hashed pass falls back to mtime/length (documented), then
    # records hashes so the one after catches a stealth overwrite again
    ing.reconcile_directory(str(src), "*.txt")          # drops hashes
    v2 = ing.reconcile_directory(str(src), "*.txt", content_hash=True)
    assert v2 == v1                                      # fallback pass
    stealth_overwrite(src, "alpha beta")
    v3 = ing.reconcile_directory(str(src), "*.txt", content_hash=True)
    assert v3 > v2
    assert {r["term"] for r in ing.index().postings.collect()} == {
        "alpha", "beta"}


def test_cli_files_mode_builds_index(spark, tmp_path, capsys, monkeypatch):
    """The cluster entry point indexes a raw directory end-to-end
    (--input-format files), excluding non-matching files by glob."""
    import importlib.util
    import json
    import pathlib

    # the CLI stops its session on exit; keep the suite's shared session
    monkeypatch.setattr(type(spark), "stop", lambda self: None)

    src = tmp_path / "corpus"
    src.mkdir()
    (src / "a.txt").write_text("hello spark engine", encoding="utf-8")
    (src / "b.txt").write_text("spark index merge", encoding="utf-8")
    (src / "c.md").write_text("excluded", encoding="utf-8")

    repo = pathlib.Path(__file__).resolve().parents[1]
    spec = importlib.util.spec_from_file_location(
        "build_index_submit", repo / "scripts" / "build_index_submit.py")
    cli = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(cli)
    cli.main(["--input", str(src), "--input-format", "files",
              "--glob", "*.txt", "--output", str(tmp_path / "ix"),
              "--shards", "2", "--stats"])
    out = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert out["n_docs"] == 2
    assert out["n_terms"] == 5  # hello spark engine index merge
    # --stats appends the segment-telemetry rollup
    assert out["index_stats"]["n_docs"] == 2
    assert out["index_stats"]["n_postings"] == 6  # spark indexes twice
    assert out["index_stats"]["n_shards"] == 2

    # the CLI's segments are routed like upsert/reshard expect
    from textindexing_spark.operators.bm25 import SegmentIndex

    seg = SegmentIndex.load(spark, str(tmp_path / "ix" / "segments_root"))
    assert seg.n_shards == 2
    grown = seg.reshard(4)
    for q in ("spark", "hello index"):
        assert ([(r.doc_id, round(r.score, 9))
                 for r in seg.search_bm25(q, 5).collect()]
                == [(r.doc_id, round(r.score, 9))
                    for r in grown.search_bm25(q, 5).collect()]), q

    # query the CLI-built snapshot through the query CLI's suggest mode
    # (did-you-mean): 'sprk' -> spark at edit distance 1
    qspec = importlib.util.spec_from_file_location(
        "query_index_submit", repo / "scripts" / "query_index_submit.py")
    qcli = importlib.util.module_from_spec(qspec)
    qspec.loader.exec_module(qcli)
    qcli.main(["--index", str(tmp_path / "ix"), "--query", "sprk",
               "--mode", "suggest", "--k", "3"])
    sug = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
    assert sug["results"][0][0] == "spark"
    assert sug["results"][0][2] == 1


def test_glob_is_engine_semantics_not_hadoop(spark, tmp_path):
    """The glob follows the reference SearchPattern contract: case-
    insensitive, brackets are LITERAL (Hadoop pathGlobFilter would treat
    [1] as a char class and match case-sensitively)."""
    (tmp_path / "data[1].txt").write_text("bracket file", encoding="utf-8")
    (tmp_path / "UP.TXT").write_text("upper file", encoding="utf-8")
    (tmp_path / "low.txt").write_text("lower file", encoding="utf-8")
    got = {r["url"].rsplit("/", 1)[-1]
           for r in read_directory(spark, str(tmp_path),
                                   "data[1].txt").collect()}
    assert got == {"data[1].txt"}
    got = {r["url"].rsplit("/", 1)[-1]
           for r in read_directory(spark, str(tmp_path),
                                   "*.TXT").collect()}
    # case-insensitive both ways: every .txt/.TXT file matches
    assert got == {"UP.TXT", "low.txt", "data[1].txt"}


def test_batch_and_stream_urls_are_identical(spark, tmp_path):
    """A file must keep ONE url identity across the bulk and watch
    phases, or UrlIdTable would mint two doc_ids for it."""
    src = tmp_path / "c"
    src.mkdir()
    (src / "a.txt").write_text("one", encoding="utf-8")
    batch_url = read_directory(spark, str(src),
                               "*.txt").collect()[0]["url"]
    q = (stream_directory(spark, str(src), "*.txt")
         .writeStream.format("memory").queryName("urlcheck")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    stream_url = spark.sql("SELECT url FROM urlcheck").collect()[0]["url"]
    assert batch_url == stream_url
    assert batch_url.startswith("file:///")


def test_utf32_boms_not_shadowed_by_utf16():
    assert decode_bytes("hi".encode("utf-32")) == "hi"  # writes LE BOM
    assert decode_bytes(b"\x00\x00\xfe\xff"
                        + "hi".encode("utf-32-be")) == "hi"
    assert decode_bytes("hi".encode("utf-16")) == "hi"  # still works


def test_list_directory_is_content_free(spark, corpus_dir):
    from textindexing_spark.sources.files import list_directory

    ls = list_directory(spark, str(corpus_dir), "*.txt")
    rows = {r["url"].rsplit("/", 1)[-1]: r for r in ls.collect()}
    assert set(rows) == {"a.txt", "b.txt", "c.txt", "d.txt"}
    assert rows["a.txt"]["n_bytes"] == len("hello world alpha")
    assert ls.columns == ["url", "warc_ts", "n_bytes"]
    # the scan's ReadSchema excludes the content column (pruned listing)
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        ls.explain("formatted")
    assert ("ReadSchema: struct<path:string,modificationTime:timestamp,"
            "length:bigint>") in buf.getvalue()


def test_batch_and_stream_urls_identical_with_special_chars(spark, tmp_path):
    """input_file_name() percent-encodes ('my file.txt' ->
    'my%20file.txt'); binaryFile's path column does not. Un-decoded,
    the same file would get two UrlIdTable identities and globs over
    the stream would match the encoded basename."""
    src = tmp_path / "enc"
    src.mkdir()
    (src / "my file+x.txt").write_text("one", encoding="utf-8")
    batch_url = read_directory(spark, str(src),
                               "my *.txt").collect()[0]["url"]
    q = (stream_directory(spark, str(src), "my *.txt")
         .writeStream.format("memory").queryName("urlenc")
         .trigger(availableNow=True).start())
    q.awaitTermination()
    got = spark.sql("SELECT url FROM urlenc").collect()
    assert len(got) == 1  # the glob must see the DECODED basename
    assert got[0]["url"] == batch_url
    assert batch_url.endswith("/my file+x.txt")


def test_read_paths_literal_glob_metacharacters(spark, tmp_path):
    """read_paths receives LITERAL paths from a listing diff, but
    spark.read.load() applies Hadoop glob interpretation — a file
    named 'report[2024].txt' must be escaped or it silently matches
    nothing (and the reconcile caller would then record its new
    fingerprint as seen without re-indexing it: a permanent lost
    update)."""
    from textindexing_spark.sources.files import read_paths

    src = tmp_path / "lit"
    src.mkdir()
    names = ["report[2024].txt", "a{x,y}.txt", "star*.txt", "q?.txt",
             "plain.txt"]
    for i, n in enumerate(names):
        (src / n).write_text(f"body {i}", encoding="utf-8")
    rows = read_paths(spark, [str(src / n) for n in names]).collect()
    assert len(rows) == len(names)
    by_base = {r["url"].rsplit("/", 1)[1]: r["text"] for r in rows}
    for i, n in enumerate(names):
        assert by_base[n] == f"body {i}", n


def test_reconcile_overwrite_of_glob_named_file(spark, tmp_path):
    """End-to-end twin of the escape test: an overwrite of a file whose
    NAME contains glob metacharacters must re-index through
    reconcile_directory's re-read path."""
    import os

    from textindexing_spark.streaming.ingest import StreamingIngestor

    src = tmp_path / "gsrc"
    src.mkdir()
    f = src / "notes[v1].txt"
    f.write_text("alpha", encoding="utf-8")
    ing = StreamingIngestor(spark, str(tmp_path / "gix"))
    ing.reconcile_directory(str(src), "*.txt")  # records fingerprints
    st = f.stat()
    f.write_text("bravo", encoding="utf-8")
    os.utime(f, (st.st_atime, st.st_mtime + 5))
    ing.reconcile_directory(str(src), "*.txt")
    terms = {r["term"] for r in ing.index().postings.collect()}
    assert "bravo" in terms and "alpha" not in terms


def test_glob_case_insensitive_beyond_ascii(spark):
    """Java regex CASE_INSENSITIVE alone is US-ASCII-only: the compiled
    glob must carry UNICODE_CASE ('(?iu)') so 'CAFÉ*' matches
    'café-menu' under rlike, matching the reference's .NET IgnoreCase."""
    from textindexing_spark.sources.glob import glob_filter

    df = spark.createDataFrame(
        [("café-menu",), ("CAFÉ-LIST",), ("cafe-plain",)], "name string")
    got = sorted(r["name"] for r in
                 glob_filter(df, "name", "CAFÉ*").collect())
    assert got == ["CAFÉ-LIST", "café-menu"]
