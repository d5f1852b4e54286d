"""Ports of loader/__tests__/{email,calendar-vcard,xml}.test.ts — the
pure-text loader family (ICS, VCF, XML, EML, MBOX)."""

from __future__ import annotations

from kiwi_spark.functions.loaders import (
    calendar_to_markdown,
    email_to_markdown,
    vcard_to_markdown,
    xml_to_structured_text,
)

# --- calendar (calendar-vcard.test.ts) --------------------------------------


def test_calendar_folded_lines_and_attendees():
    ics = "\r\n".join(
        [
            "BEGIN:VCALENDAR",
            "BEGIN:VEVENT",
            "SUMMARY:Planning",
            "DTSTART:20260101T100000Z",
            "DTEND:20260101T110000Z",
            "LOCATION:Room 1",
            'ORGANIZER;CN="Alice; CEO";DIR="ldap://example.com:6666/o=Example":mailto:alice@example.com',
            "ATTENDEE;CN=Bob:mailto:bob@example.com",
            "DESCRIPTION:Discuss roadmap\\nAnd milestones",
            "END:VEVENT",
            "END:VCALENDAR",
        ]
    )
    text = calendar_to_markdown(ics)
    assert "# Calendar" in text
    assert "## Event 1: Planning" in text
    assert "- Organizer: Alice; CEO <alice@example.com>" in text
    assert "  - Bob <bob@example.com>" in text
    assert "Discuss roadmap\nAnd milestones" in text


def test_calendar_line_unfolding():
    ics = "\r\n".join(
        [
            "BEGIN:VEVENT",
            "SUMMARY:Very long",
            " summary continued",
            "END:VEVENT",
        ]
    )
    assert "## Event 1: Very longsummary continued" in calendar_to_markdown(ics)


# --- vcard -------------------------------------------------------------------


def test_vcard_repeated_fields():
    vcard = "\n".join(
        [
            "BEGIN:VCARD",
            "VERSION:4.0",
            "FN:Alice Example",
            "ORG:Example Inc",
            'EMAIL;TYPE="work;internet":alice@example.com',
            "TEL:+491234",
            "ADR:;;Main Street 1;Berlin;;;Germany",
            "END:VCARD",
        ]
    )
    text = vcard_to_markdown(vcard)
    assert "# Contacts" in text
    assert "## Contact 1: Alice Example" in text
    assert "- Organization: Example Inc" in text
    assert "- Email: alice@example.com" in text
    assert "- Phone: +491234" in text
    assert "- Address: Main Street 1, Berlin, Germany" in text


def test_vcard_structured_name_fallback():
    # vcard.ts:83-93 filters empty N parts BEFORE positional destructuring,
    # so "Lovelace;Ada;;Dr.;" → [prefix=…shifted…] → "Ada Dr. Lovelace"
    vcard = "\n".join(
        ["BEGIN:VCARD", "N:Lovelace;Ada;;Dr.;", "END:VCARD"]
    )
    assert "## Contact 1: Ada Dr. Lovelace" in vcard_to_markdown(vcard)
    # fully-populated N keeps the canonical prefix-given-additional-family
    vcard2 = "\n".join(
        ["BEGIN:VCARD", "N:Lovelace;Ada;Augusta;Dr.;PhD", "END:VCARD"]
    )
    assert "## Contact 1: Dr. Ada Augusta Lovelace PhD" in vcard_to_markdown(vcard2)


# --- xml (xml.test.ts) --------------------------------------------------------


def test_xml_structured_markdown_exact():
    text = xml_to_structured_text('<catalog><book id="1">One</book></catalog>')
    assert text == "\n".join(
        [
            "# XML Document",
            "",
            "## /catalog",
            "",
            "### /catalog/book[1]",
            "",
            "Attributes:",
            "- id: 1",
            "",
            "One",
        ]
    )


def test_xml_paths_attributes_comments_cdata():
    text = xml_to_structured_text(
        '<?xml version="1.0"?>'
        '<feed source="fixture">'
        "<!-- editorial note -->"
        '<entry id="a"><![CDATA[Alpha & Beta]]></entry>'
        "</feed>"
    )
    assert "## /feed" in text
    assert "- source: fixture" in text
    assert "Comment: editorial note" in text
    assert "### /feed/entry[1]" in text
    assert "- id: a" in text
    assert "CDATA: Alpha & Beta" in text
    assert "<entry" not in text


def test_xml_entities_decoded():
    text = xml_to_structured_text(
        '<root title="Tom &amp; Jerry">A &amp; B &lt; C &#169; &#x2014;</root>'
    )
    assert "- title: Tom & Jerry" in text
    assert "A & B < C © —" in text


def test_xml_processing_instructions_ignored():
    text = xml_to_structured_text("<root><?pi value?><child>Text</child></root>")
    assert "## /root" in text
    assert "### /root/child[1]" in text
    assert "Text" in text
    assert "<?pi" not in text


def test_xml_malformed_falls_back_verbatim():
    assert xml_to_structured_text("<catalog><book>open only") == "<catalog><book>open only"
    assert xml_to_structured_text("<a>one</a><b>two</b>") == "<a>one</a><b>two</b>"
    assert xml_to_structured_text("<root><unclosed></root>") == "<root><unclosed></root>"


# --- email (email.test.ts) ------------------------------------------------------


def test_eml_multipart_attachments():
    eml = "\r\n".join(
        [
            "Subject: =?UTF-8?Q?Project_update?=",
            "From: Alice <alice@example.com>",
            "To: Bob <bob@example.com>",
            "Date: Tue, 01 Jan 2026 10:00:00 +0000",
            'Content-Type: multipart/mixed; boundary="outer"',
            "",
            "--outer",
            "Content-Type: text/plain; charset=utf-8",
            "Content-Transfer-Encoding: quoted-printable",
            "",
            "Hello=2C Bob.",
            "--outer",
            'Content-Type: application/pdf; name="brief;final.pdf"',
            'Content-Disposition: attachment; filename="brief;final.pdf"',
            "",
            "ignored",
            "--outer--",
        ]
    )
    text = email_to_markdown(eml.encode(), container="eml")
    assert "# Email Message" in text
    assert "- Subject: Project update" in text
    assert "- From: Alice <alice@example.com>" in text
    assert "Hello, Bob." in text
    assert "- brief;final.pdf (application/pdf)" in text


def test_eml_extended_attachment_filenames():
    eml = "\r\n".join(
        [
            "Subject: Attachments",
            'Content-Type: multipart/mixed; boundary="outer"',
            "",
            "--outer",
            "Content-Type: text/plain; charset=utf-8",
            "",
            "See attached.",
            "--outer",
            "Content-Type: application/pdf",
            "Content-Disposition: attachment; filename*=UTF-8''brief%20%E2%82%AC.pdf",
            "",
            "ignored",
            "--outer--",
        ]
    )
    text = email_to_markdown(eml.encode(), container="eml")
    assert "- brief €.pdf (application/pdf)" in text


def test_eml_declared_charset_body():
    header = "\r\n".join(
        [
            "Subject: Latin",
            "Content-Type: text/plain; charset=iso-8859-1",
            "Content-Transfer-Encoding: 8bit",
            "",
            "Caf",
        ]
    ).encode()
    data = header + b"\xe9"
    text = email_to_markdown(data, container="eml")
    assert "Café" in text
    assert "�" not in text


def test_mbox_multiple_messages():
    mbox = "\n".join(
        [
            "From alice@example.com Tue Jan 01 00:00:00 2026",
            "Subject: First",
            "From: Alice <alice@example.com>",
            "",
            "First body",
            "From bob@example.com Tue Jan 02 00:00:00 2026",
            "Subject: Second",
            "From: Bob <bob@example.com>",
            "",
            "Second body",
        ]
    )
    text = email_to_markdown(mbox.encode())  # container inferred
    assert "# Mailbox" in text
    assert "## Message 1" in text
    assert "- Subject: First" in text
    assert "## Message 2" in text
    assert "- Subject: Second" in text


def test_mbox_no_split_on_body_from_lines():
    mbox = "\n".join(
        [
            "From alice@example.com Tue Jan 01 00:00:00 2026",
            "Subject: First",
            "From: Alice <alice@example.com>",
            "",
            "First body",
            "From here we keep reading the same message.",
        ]
    )
    text = email_to_markdown(mbox.encode(), container="mbox")
    assert text.count("## Message") == 1
    assert "From here we keep reading the same message." in text


def test_eml_html_body_to_markdown():
    eml = "\r\n".join(
        [
            "Subject: Html",
            "Content-Type: text/html; charset=utf-8",
            "",
            "<h1>Title</h1><p>Hello <strong>world</strong>.</p>",
        ]
    )
    text = email_to_markdown(eml.encode(), container="eml")
    assert "# Title" in text
    assert "Hello **world**." in text


# --- end-to-end: mixed-format corpus through the pipeline --------------------


def test_pipeline_ingests_mixed_formats(spark, tmp_path):
    """A pages table whose `html` column carries ICS / VCF / XML / EML /
    DOCX / XLSX / PPTX payloads flows through extract_text (per-format
    loaders), per-type chunkers and the KG stages end-to-end."""
    import datetime

    from test_ooxml import _p, _shape, _slide, make_docx, make_pptx, make_xlsx, _row

    from kiwi_spark.pipeline import run_pipeline
    from kiwi_spark.sources.catalog import Catalog

    ics = "\n".join([
        "BEGIN:VCALENDAR", "BEGIN:VEVENT",
        "SUMMARY:ACME CORP partnered with GLOBEX INC",
        "DESCRIPTION:ACME CORP partnered with GLOBEX INC.",
        "END:VEVENT", "END:VCALENDAR",
    ]).encode()
    vcf = "\n".join([
        "BEGIN:VCARD", "FN:Alice Example", "ORG:ACME CORP", "END:VCARD",
    ]).encode()
    xml = b'<catalog><book id="1">ACME CORP acquired GLOBEX INC.</book></catalog>'
    eml = b"Subject: Deal\r\nFrom: a@x.test\r\n\r\nACME CORP acquired GLOBEX INC."
    docx = make_docx(_p("ACME CORP partnered with GLOBEX INC."))
    xlsx = make_xlsx([("Data", _row(1, [("A", "inlineStr", "ACME CORP")]), None)])
    pptx = make_pptx([_slide(_shape("ACME CORP acquired GLOBEX INC.", "title"))])

    ts = datetime.datetime(2026, 1, 1)
    rows = [
        ("https://x.test/a.ics", ts, bytearray(ics), "", "en"),
        ("https://x.test/b.vcf", ts, bytearray(vcf), "", "en"),
        ("https://x.test/c.xml", ts, bytearray(xml), "", "en"),
        ("https://x.test/d.eml", ts, bytearray(eml), "", "en"),
        ("https://x.test/e.docx", ts, bytearray(docx), "", "en"),
        ("https://x.test/f.xlsx", ts, bytearray(xlsx), "", "en"),
        ("https://x.test/g.pptx", ts, bytearray(pptx), "", "en"),
        ("https://x.test/h.html", ts,
         bytearray(b"<html><body><p>ACME CORP works at GLOBEX INC.</p></body></html>"),
         "", "en"),
    ]
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, text string, lang string"
    )
    wh = str(tmp_path / "wh_mixed")
    run_pipeline(spark, pages, wh)
    cat = Catalog(wh)
    text = {r["url"]: r for r in cat.read(spark, "text").collect()}
    assert text["https://x.test/a.ics"]["file_type"] == "calendar"
    assert "# Calendar" in text["https://x.test/a.ics"]["text"]
    assert text["https://x.test/b.vcf"]["file_type"] == "vcard"
    assert text["https://x.test/c.xml"]["file_type"] == "xml"
    assert "# XML Document" in text["https://x.test/c.xml"]["text"]
    assert text["https://x.test/d.eml"]["file_type"] == "email"
    assert "# Email Message" in text["https://x.test/d.eml"]["text"]
    assert text["https://x.test/e.docx"]["file_type"] == "docx"
    assert ":::PAGE-1:::" in text["https://x.test/e.docx"]["text"]
    assert text["https://x.test/f.xlsx"]["file_type"] == "xlsx"
    assert "## Sheet: Data" in text["https://x.test/f.xlsx"]["text"]
    assert text["https://x.test/g.pptx"]["file_type"] == "pptx"
    assert text["https://x.test/h.html"]["file_type"] == "html"

    # the extraction grammar found the cross-document entity in ≥2 formats
    nodes = cat.read(spark, "nodes").collect()
    names = {r["name"] for r in nodes}
    assert "ACME CORP" in names
    acme = next(r for r in nodes if r["name"] == "ACME CORP")
    assert acme["n_urls"] >= 2


# --- Outlook .msg (CFB) — mirrors email.test.ts buildSyntheticMSG -------------


def make_cfb(streams: dict[str, bytes]) -> bytes:
    """Minimal CFB v3 writer: 1 FAT sector, 1 directory sector (≤3 streams),
    1 miniFAT sector, all stream data in the root mini stream."""
    import struct

    assert len(streams) <= 3
    sector = 512
    mini = 64

    # mini stream layout
    mini_data = bytearray()
    mini_starts = []
    minifat: list[int] = []
    for content in streams.values():
        start = len(mini_data) // mini
        n = max(1, -(-len(content) // mini))
        mini_starts.append(start)
        for k in range(n - 1):
            minifat.append(start + k + 1)
        minifat.append(0xFFFFFFFE)
        mini_data += content + b"\x00" * (n * mini - len(content))
    mini_total = len(mini_data)
    n_mini_sectors = max(1, -(-mini_total // sector))
    mini_data += b"\x00" * (n_mini_sectors * sector - mini_total)

    # sectors: 0=FAT, 1=dir, 2=miniFAT, 3..=mini stream
    first_mini_sector = 3
    fat = [0xFFFFFFFD, 0xFFFFFFFE, 0xFFFFFFFE]
    for k in range(n_mini_sectors - 1):
        fat.append(first_mini_sector + k + 1)
    fat.append(0xFFFFFFFE)
    fat += [0xFFFFFFFF] * (sector // 4 - len(fat))

    def dir_entry(name: str, etype: int, start: int, size: int,
                  child: int = 0xFFFFFFFF) -> bytes:
        encoded = name.encode("utf-16-le") + b"\x00\x00"
        raw = bytearray(128)
        raw[: len(encoded)] = encoded
        struct.pack_into("<H", raw, 64, len(encoded))
        raw[66] = etype
        raw[67] = 1  # black
        struct.pack_into("<III", raw, 68, 0xFFFFFFFF, 0xFFFFFFFF, child)
        struct.pack_into("<I", raw, 116, start)
        struct.pack_into("<Q", raw, 120, size)
        return bytes(raw)

    entries = [dir_entry("Root Entry", 5, first_mini_sector, mini_total, child=1)]
    for (name, content), start in zip(streams.items(), mini_starts):
        entries.append(dir_entry(name, 2, start, len(content)))
    while len(entries) < 4:
        entries.append(b"\x00" * 128)

    minifat += [0xFFFFFFFF] * (sector // 4 - len(minifat))

    header = bytearray(512)
    header[:8] = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
    struct.pack_into("<H", header, 26, 0x003E)  # minor
    struct.pack_into("<H", header, 28, 0x0003)  # major v3
    struct.pack_into("<H", header, 30, 9)  # sector shift
    struct.pack_into("<H", header, 32, 6)  # mini shift
    struct.pack_into("<I", header, 44, 1)  # num FAT sectors
    struct.pack_into("<I", header, 48, 1)  # first dir sector
    struct.pack_into("<I", header, 56, 4096)  # mini cutoff
    struct.pack_into("<I", header, 60, 2)  # first miniFAT sector
    struct.pack_into("<I", header, 64, 1)  # num miniFAT sectors
    struct.pack_into("<I", header, 68, 0xFFFFFFFE)  # first DIFAT
    struct.pack_into("<I", header, 76, 0)  # DIFAT[0] = FAT sector 0
    for i in range(1, 109):
        struct.pack_into("<I", header, 76 + 4 * i, 0xFFFFFFFF)

    import struct as _s

    body = (
        b"".join(_s.pack("<I", v) for v in fat)
        + b"".join(entries)
        + b"".join(_s.pack("<I", v) for v in minifat)
        + bytes(mini_data)
    )
    return bytes(header) + body


def _utf16(value: str) -> bytes:
    return (value + "\x00").encode("utf-16-le")


def test_msg_outlook_mapi_streams():
    """email.test.ts:141-151 — extracts common Outlook MSG MAPI streams."""
    msg = make_cfb(
        {
            "__substg1.0_0037001F": _utf16("MSG Subject"),
            "__substg1.0_0C1A001F": _utf16("Sender Name"),
            "__substg1.0_1000001F": _utf16("MSG body text"),
        }
    )
    text = email_to_markdown(msg)  # container inferred from OLE signature
    assert "# Email Message" in text
    assert "- Subject: MSG Subject" in text
    assert "- From: Sender Name" in text
    assert "MSG body text" in text
