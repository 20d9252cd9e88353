"""Native RAR container walk (core/rar_extract.py; reference
archive_reader.py:18-55 routes .rar via rarfile+unrar — proprietary
DECOMPRESSION stays a typed error, the CONTAINER walk and stored members
are native).  Header-offset correctness is validated against the
reference's own real rar files (member names + methods parse right);
stored-member extraction uses crafted fixtures in the documented
layouts."""

import os

import pytest

from dedoc_spark.core.formats import detect_format, list_archive_members
from dedoc_spark.core.rar_extract import list_members
from dedoc_spark.sources.archive_fixture import build_rar4_stored as _rar4_stored
from dedoc_spark.sources.archive_fixture import build_rar5_stored as _rar5_stored

REF_ARCHIVES = "/root/reference/tests/data/archives"
needs_reference = pytest.mark.skipif(
    not os.path.isdir(REF_ARCHIVES), reason="reference corpus not available"
)


@pytest.mark.parametrize("builder", [_rar4_stored, _rar5_stored])
def test_stored_members_extract(builder):
    payload = builder([("a/readme.txt", b"hello rar"), ("data.bin", b"\x00\x01\x02")])
    got = list_members(payload)
    assert got == [("readme.txt", b"hello rar"), ("data.bin", b"\x00\x01\x02")]
    # joins the archive channel end-to-end
    assert detect_format("x.rar", payload, None) == "zip"
    assert list_archive_members(payload) == got


@needs_reference
def test_reference_rar4_compressed_members_typed_error():
    """The reference's real rar4 archives: the container walk reaches the
    first member (offsets right → the NAME parses), and its proprietary
    compression raises the typed needs_unpacker error."""
    for fname, member in [
        ("arch_with_attachs.rar", "arch_with_attachs/english_doc.pdf"),
        ("subfolders.rar", "subfolders/english/doc/english_doc.docx"),
    ]:
        payload = open(f"{REF_ARCHIVES}/{fname}", "rb").read()
        with pytest.raises(ValueError, match="needs_unpacker:rar compressed"):
            list_members(payload)
        try:
            list_members(payload)
        except ValueError as e:
            assert member in str(e)


@needs_reference
def test_reference_rar5_compressed_members_typed_error():
    payload = open(f"{REF_ARCHIVES}/zipka.rar", "rb").read()
    with pytest.raises(ValueError, match="zipka/ZD-odin.jpg"):
        list_members(payload)


@needs_reference
def test_extract_document_rar_error_row():
    """A compressed rar through the per-row reader: typed error row, not
    a crash; a stored rar lists its members in the warnings channel."""
    from dedoc_spark.core.document import extract_document

    compressed = open(f"{REF_ARCHIVES}/zipka.rar", "rb").read()
    d = extract_document("x.rar", compressed, None)
    assert d["error"] is not None and "needs_unpacker:rar" in d["error"]

    stored = _rar4_stored([("inner.txt", b"inner text")])
    d = extract_document("x.rar", stored, None)
    assert d["error"] is not None and "needs_explosion:zip" in d["error"]
    assert any("inner.txt" in w for w in d["warnings"])


@pytest.mark.parametrize("builder", [_rar4_stored, _rar5_stored])
def test_compressed_fixture_members_typed_error(builder):
    """A fixture member labelled compressed (method 3): the container walk
    reaches it and raises the typed needs_unpacker error naming it, for
    the direct reader and for the per-row reader."""
    from dedoc_spark.core.document import extract_document

    payload = builder([("dir/first.txt", b"packed?"), ("second.txt", b"x")], method=3)
    with pytest.raises(ValueError, match="needs_unpacker:rar compressed member dir/first.txt"):
        list_members(payload)
    d = extract_document("x.rar", payload, None)
    assert d["error"] is not None and "needs_unpacker:rar" in d["error"]
    assert d["n_lines"] == 0


def test_extract_document_stored_rar_lists_members():
    """A stored rar through the per-row reader is routed to the archive
    channel: typed needs_explosion row with its members as warnings."""
    from dedoc_spark.core.document import extract_document

    d = extract_document("x.rar", _rar4_stored([("inner.txt", b"inner text")]), None)
    assert d["error"] is not None and "needs_explosion:zip" in d["error"]
    assert any("inner.txt" in w for w in d["warnings"])
