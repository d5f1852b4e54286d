"""Structured-format loaders: raw bytes/text → the reference's markdown.

Ports of the pure-text members of the reference loader family (the formats
that need no external codec):

* calendar — ICS VEVENT/VTODO/VJOURNAL → "# Calendar" markdown
             (loader/calendar.ts:1-230: line unfolding, quoted-aware
             property/param parsing, participant CN formatting)
* vcard    — VCF → "# Contacts" markdown (loader/vcard.ts:1-120:
             FN/N fallback, repeated EMAIL/TEL/ADR/URL lists)
* xml      — XML → "# XML Document" sectioned markdown
             (loader/xml.ts:1-194: /path[n] headings, attributes,
             comments, CDATA, malformed → verbatim fallback)
* email    — EML/MBOX → "# Email Message"/"# Mailbox" markdown
             (loader/email.ts:71-160 format; MIME mechanics use Python's
             stdlib ``email`` parser as the RFC-2822/2045 engine — a
             documented substitute for the reference's hand-rolled MIME
             parser; Outlook .msg (OLE/CFB) is not ported)

These feed functions.format_detect + the chunker factory: a user ingesting
a .ics/.vcf/.xml/.eml/.mbox gets the same markdown shape, and therefore the
same chunk boundaries, as the reference.
"""

from __future__ import annotations

import re

from .html_text import html_to_markdown

# --------------------------------------------------------------------------
# shared ICS/VCF structured-line machinery (calendar.ts:97-230)
# --------------------------------------------------------------------------


def unfold_structured_lines(text: str) -> list[str]:
    lines: list[str] = []
    for raw in text.replace("\r\n", "\n").split("\n"):
        if raw[:1] in (" ", "\t") and lines:
            lines[-1] += raw[1:]
            continue
        lines.append(raw)
    return lines


def _unescape_structured(value: str) -> str:
    value = re.sub(r"\\n", "\n", value, flags=re.IGNORECASE)
    return value.replace("\\,", ",").replace("\\;", ";").replace("\\\\", "\\")


def _find_unquoted(value: str, separator: str) -> int:
    quoted = escaped = False
    for index, char in enumerate(value):
        if escaped:
            escaped = False
            continue
        if char == "\\":
            escaped = True
            continue
        if char == '"':
            quoted = not quoted
            continue
        if char == separator and not quoted:
            return index
    return -1


def _split_quoted(value: str, separator: str) -> list[str]:
    parts: list[str] = []
    current = ""
    quoted = escaped = False
    for char in value:
        if escaped:
            current += char
            escaped = False
            continue
        if char == "\\":
            current += char
            escaped = True
            continue
        if char == '"':
            quoted = not quoted
            current += char
            continue
        if char == separator and not quoted:
            parts.append(current)
            current = ""
            continue
        current += char
    parts.append(current)
    return parts


def parse_structured_property(line: str):
    """(name, params dict, value) or None (calendar.ts:111-138)."""
    separator = _find_unquoted(line, ":")
    if separator < 0:
        return None
    name_and_params = line[:separator]
    parts = _split_quoted(name_and_params, ";")
    raw_name, raw_params = parts[0], parts[1:]
    params: dict[str, str] = {}
    for raw in raw_params:
        eq = _find_unquoted(raw, "=")
        if eq < 0:
            continue
        key = raw[:eq].strip().upper()
        val = _unescape_structured(raw[eq + 1 :].strip())
        params[key] = re.sub(r'^"|"$', "", val)
    return (
        raw_name.strip().upper(),
        params,
        _unescape_structured(line[separator + 1 :].strip()),
    )


def _props_in(text: str, begin_re: str, end_re: str,
              kinds: dict[str, str] | None = None):
    """Iterate (kind, [properties]) blocks between BEGIN/END markers."""
    items = []
    current = None
    kind = None
    for line in unfold_structured_lines(text):
        trimmed = line.strip()
        begin = re.match(begin_re, trimmed, re.IGNORECASE)
        if begin:
            kind = (kinds or {}).get(begin.group(1).upper(), "") if begin.groups() else ""
            current = []
            continue
        if re.match(end_re, trimmed, re.IGNORECASE):
            if current is not None:
                items.append((kind, current))
            current = None
            continue
        if current is not None:
            prop = parse_structured_property(line)
            if prop:
                current.append(prop)
    return items


def _first(props, name: str) -> str | None:
    for pname, _params, value in props:
        if pname == name:
            return value
    return None


def _all(props, name: str) -> list:
    return [p for p in props if p[0] == name]


# --------------------------------------------------------------------------
# calendar (loader/calendar.ts:60-95)
# --------------------------------------------------------------------------

_CAL_KINDS = {"VEVENT": "Event", "VTODO": "Todo", "VJOURNAL": "Journal"}


def _participant(prop) -> str | None:
    if prop is None:
        return None
    _name, params, value = prop
    value = re.sub(r"^mailto:", "", value, flags=re.IGNORECASE)
    cn = params.get("CN")
    return f"{cn} <{value}>" if cn else value


def calendar_to_markdown(text: str) -> str:
    items = _props_in(
        text, r"^BEGIN:(VEVENT|VTODO|VJOURNAL)$", r"^END:(?:VEVENT|VTODO|VJOURNAL)$",
        _CAL_KINDS,
    )
    lines = ["# Calendar"]
    for index, (kind, props) in enumerate(items):
        summary = _first(props, "SUMMARY") or f"{kind} {index + 1}"
        lines += ["", f"## {kind} {index + 1}: {summary}"]
        for label, name in (
            ("Start", "DTSTART"), ("End", "DTEND"), ("Due", "DUE"),
            ("Status", "STATUS"), ("Location", "LOCATION"),
        ):
            value = _first(props, name)
            if value:
                lines.append(f"- {label}: {value}")
        organizer = _participant(next(iter(_all(props, "ORGANIZER")), None))
        if organizer:
            lines.append(f"- Organizer: {organizer}")
        attendees = [a for a in map(_participant, _all(props, "ATTENDEE")) if a]
        if attendees:
            lines.append("- Attendees:")
            lines += [f"  - {a}" for a in attendees]
        description = _first(props, "DESCRIPTION")
        if description:
            lines += ["", description]
    return "\n".join(lines).strip()


# --------------------------------------------------------------------------
# vcard (loader/vcard.ts:47-120)
# --------------------------------------------------------------------------

def _structured_name(value: str | None) -> str | None:
    if not value:
        return None
    parts = [p.strip() for p in value.split(";") if p.strip()]
    family, given, additional, prefix, suffix = (parts + [None] * 5)[:5]
    joined = " ".join(p for p in (prefix, given, additional, family, suffix) if p)
    return joined or value


def _push_repeated(lines: list[str], label: str, values: list[str]) -> None:
    filtered = [v for v in values if v]
    if not filtered:
        return
    if len(filtered) == 1:
        lines.append(f"- {label}: {filtered[0]}")
        return
    lines.append(f"- {label}:")
    lines += [f"  - {v}" for v in filtered]


def vcard_to_markdown(text: str) -> str:
    cards = _props_in(text, r"^(BEGIN):VCARD$", r"^END:VCARD$")
    lines = ["# Contacts"]
    for index, (_kind, props) in enumerate(cards):
        name = _first(props, "FN") or _structured_name(_first(props, "N"))
        lines += ["", f"## Contact {index + 1}: {name or f'Contact {index + 1}'}"]
        if name:
            lines.append(f"- Full name: {name}")
        for label, pname in (("Organization", "ORG"), ("Title", "TITLE")):
            value = _first(props, pname)
            if value:
                lines.append(f"- {label}: {value}")
        _push_repeated(lines, "Email", [p[2] for p in _all(props, "EMAIL")])
        _push_repeated(lines, "Phone", [p[2] for p in _all(props, "TEL")])
        _push_repeated(
            lines, "Address",
            [", ".join(s.strip() for s in p[2].split(";") if s.strip())
             for p in _all(props, "ADR")],
        )
        _push_repeated(lines, "URL", [p[2] for p in _all(props, "URL")])
        bday = _first(props, "BDAY")
        if bday:
            lines.append(f"- Birthday: {bday}")
        note = _first(props, "NOTE")
        if note:
            lines += ["", note]
    return "\n".join(lines).strip()


# --------------------------------------------------------------------------
# xml (loader/xml.ts:40-194)
# --------------------------------------------------------------------------

def xml_to_structured_text(text: str) -> str:
    rendered = try_xml_to_structured_text(text)
    return rendered if rendered is not None else text.strip()


def try_xml_to_structured_text(text: str) -> str | None:
    from xml.dom import minidom
    from xml.parsers.expat import ExpatError

    stripped = text.strip()
    if stripped == "":
        return ""
    try:
        document = minidom.parseString(stripped)
    except (ExpatError, ValueError):
        return None
    root = document.documentElement
    if root is None:
        return None
    sections = _xml_sections(root, f"/{root.nodeName.strip() or 'node'}", 1)
    rendered = "\n\n".join(
        ["# XML Document"] + [_render_xml_section(s) for s in sections]
    ).strip()
    return rendered or None


def _xml_sections(element, path: str, depth: int) -> list[dict]:
    sections = [
        {
            "path": path,
            "depth": depth,
            "attributes": [
                (name.strip(), value.strip())
                for name, value in (element.attributes.items() if element.attributes else [])
                if name.strip()
            ],
            "lines": _xml_content_lines(element),
        }
    ]
    counts: dict[str, int] = {}
    for child in element.childNodes:
        if child.nodeType != child.ELEMENT_NODE:
            continue
        name = child.nodeName.strip() or "node"
        counts[name] = counts.get(name, 0) + 1
        sections += _xml_sections(child, f"{path}/{name}[{counts[name]}]", depth + 1)
    return sections


def _xml_content_lines(element) -> list[str]:
    lines: list[str] = []
    for child in element.childNodes:
        if child.nodeType in (child.ELEMENT_NODE, child.PROCESSING_INSTRUCTION_NODE):
            continue
        if child.nodeType == child.TEXT_NODE:
            value = " ".join((child.data or "").split())
            if value:
                lines.append(value)
            continue
        if child.nodeType == child.COMMENT_NODE:
            comment = (child.data or "").strip()
            if comment:
                lines.append(f"Comment: {comment}")
            continue
        if child.nodeType == child.CDATA_SECTION_NODE:
            cdata = (child.data or "").strip()
            if cdata:
                lines.append(f"CDATA: {cdata}")
    return lines


def _render_xml_section(section: dict) -> str:
    heading = "#" * min(section["depth"] + 1, 6)
    lines = [f"{heading} {section['path']}"]
    if section["attributes"]:
        lines += ["", "Attributes:"]
        lines += [f"- {name}: {value}" for name, value in section["attributes"]]
    if section["lines"]:
        lines += ["", *section["lines"]]
    return "\n".join(lines).strip()


# --------------------------------------------------------------------------
# email (loader/email.ts:71-160; stdlib email module as the MIME engine)
# --------------------------------------------------------------------------

def _decode_part_text(part) -> str:
    try:
        payload = part.get_content()
    except Exception:
        raw = part.get_payload(decode=True) or b""
        payload = raw.decode("utf-8", errors="replace")
    return payload if isinstance(payload, str) else ""


def _extract_body(msg, attachments: list[dict]) -> str:
    if msg.is_multipart() and msg.get_content_maintype() == "multipart":
        texts: list[str] = []
        htmls: list[str] = []
        for part in msg.iter_parts():
            filename = part.get_filename()
            disposition = part.get_content_disposition()
            if disposition == "attachment" or filename:
                attachments.append(
                    {"filename": filename, "content_type": part.get_content_type()}
                )
                continue
            body = _extract_body(part, attachments)
            if part.get_content_type() == "text/html":
                htmls.append(body)
            elif body.strip():
                texts.append(body)
        return "\n\n".join(texts or htmls).strip()
    text = _decode_part_text(msg)
    if msg.get_content_type() == "text/html":
        return html_to_markdown(text)
    return text.strip()


def _parse_message(data: bytes) -> dict:
    import email
    from email import policy

    msg = email.message_from_bytes(data, policy=policy.default)
    attachments: list[dict] = []
    body = _extract_body(msg, attachments)

    def addr_list(header: str) -> list[str]:
        value = msg.get(header)
        if not value:
            return []
        return [part.strip() for part in str(value).split(",") if part.strip()]

    return {
        "subject": str(msg.get("Subject") or ""),
        "from": str(msg.get("From") or ""),
        "to": addr_list("To"),
        "cc": addr_list("Cc"),
        "date": str(msg.get("Date") or ""),
        "message_id": str(msg.get("Message-ID") or ""),
        "body": body,
        "attachments": attachments,
    }


def _email_metadata(message: dict) -> list[str]:
    lines: list[str] = []
    if message["subject"]:
        lines.append(f"- Subject: {message['subject']}")
    if message["from"]:
        lines.append(f"- From: {message['from']}")
    if message["to"]:
        lines.append(f"- To: {', '.join(message['to'])}")
    if message["cc"]:
        lines.append(f"- Cc: {', '.join(message['cc'])}")
    if message["date"]:
        lines.append(f"- Date: {message['date']}")
    if message["message_id"]:
        lines.append(f"- Message-ID: {message['message_id']}")
    return lines


def _attachment_lines(attachments: list[dict]) -> list[str]:
    return [
        "- "
        + (a["filename"] or "unnamed attachment")
        + (f" ({a['content_type']})" if a.get("content_type") else "")
        for a in attachments
    ]


def format_email_message(message: dict) -> str:
    lines = ["# Email Message", *_email_metadata(message), "", message["body"].strip()]
    if message["attachments"]:
        lines += ["", "## Attachments", *_attachment_lines(message["attachments"])]
    return "\n".join(lines).strip()


def format_mailbox(messages: list[dict]) -> str:
    lines = ["# Mailbox"]
    for index, message in enumerate(messages):
        lines += ["", f"## Message {index + 1}", *_email_metadata(message), "",
                  message["body"].strip()]
        if message["attachments"]:
            lines += ["", "### Attachments", *_attachment_lines(message["attachments"])]
    return "\n".join(lines).strip()


_MBOX_SEPARATOR = re.compile(rb"^From \S+ ", re.MULTILINE)


def split_mbox(data: bytes) -> list[bytes]:
    """Split on 'From ' separator lines that LOOK like mbox envelopes
    (start-of-line 'From <addr> <date>'), never on body lines — matched
    positions must start a message right after a previous blank-or-start."""
    starts = [
        m.start()
        for m in _MBOX_SEPARATOR.finditer(data)
        if m.start() == 0 or data[m.start() - 1 : m.start()] == b"\n"
    ]
    # keep only separators at message boundaries: offset 0, or preceded by
    # the start of the buffer; for body lines like "From here we keep…" the
    # regex (From + addr + space) plus the envelope date-ish tail filters
    # most; tighten with a date-like suffix check
    def is_envelope(pos: int) -> bool:
        line_end = data.find(b"\n", pos)
        line = data[pos : line_end if line_end > 0 else len(data)]
        return bool(re.match(rb"^From \S+ .*\d{4}\s*$", line))

    starts = [s for s in starts if is_envelope(s)]
    if not starts:
        return [data]
    pieces = []
    for i, start in enumerate(starts):
        end = starts[i + 1] if i + 1 < len(starts) else len(data)
        body_start = data.find(b"\n", start)
        pieces.append(data[body_start + 1 : end] if body_start > 0 else data[start:end])
    return pieces


def payload_to_text(data: bytes, mime: str | None = None,
                    url: str | None = None) -> tuple[str, str]:
    """Detect a payload's format and run the matching loader.

    Returns (text, file_type) — the engine-wide ingestion entry point
    (loader factory analog, loader/factory.ts:169-…): html→markdown,
    ics/vcf/xml/eml/mbox/msg→their markdown shapes, pdf via ``pdf_to_text``,
    docx/xlsx/pptx/odt/odp via the OOXML loaders, doc/xls/ppt via
    ``legacy_office``, everything text-like verbatim. Image payloads and
    unrecognized OLE containers return empty text; no pixel decoder runs."""
    from .format_detect import detect_format

    file_type = detect_format(content=data, mime=mime, url=url)
    if file_type == "image":
        return "", file_type
    if file_type == "pdf":
        from .pdf_text import pdf_to_text

        return pdf_to_text(data), file_type

    if file_type == "docx":
        from .ooxml import docx_to_markdown

        return docx_to_markdown(data), file_type
    if file_type == "xlsx":
        from .ooxml import xlsx_to_markdown

        return xlsx_to_markdown(data), file_type
    if file_type == "pptx":
        from .ooxml import pptx_to_markdown

        return pptx_to_markdown(data), file_type
    if file_type == "odt":
        from .ooxml import odt_to_markdown

        return odt_to_markdown(data), file_type
    if file_type == "odp":
        from .ooxml import odp_to_markdown

        return odp_to_markdown(data), file_type
    if file_type in ("email", "mbox"):
        return (
            email_to_markdown(data, "mbox" if file_type == "mbox" else "eml"),
            file_type,
        )
    if file_type == "msg":
        return email_to_markdown(data, "msg"), file_type
    if file_type in ("doc", "ppt", "xls"):
        # legacy OLE binaries — scoped from-spec extraction (legacy_office:
        # .doc piece table, BIFF8 SST/cells, PPT text atoms). Parity-or-
        # better: the reference routes .doc to its OOXML-only DOCXLoader
        # (factory.ts:56,238-244) which throws on CFB. Unparseable files
        # yield '' → UNSUPPORTED_FORMAT error rows, as before.
        from .legacy_office import legacy_office_to_text

        return legacy_office_to_text(data, file_type), file_type
    if file_type == "cfb":
        # unrecognized OLE container (detected so it never misparses as
        # mojibake text) → UNSUPPORTED_FORMAT
        return "", file_type

    text = data.decode("utf-8", errors="replace")
    if file_type == "html":
        return html_to_markdown(text), file_type
    if file_type == "calendar":
        return calendar_to_markdown(text), file_type
    if file_type == "vcard":
        return vcard_to_markdown(text), file_type
    if file_type == "xml":
        return xml_to_structured_text(text), file_type
    # csv/json/yaml/toml/markdown/text pass through verbatim — their
    # structure is handled by the per-type chunkers (chunkers_structured)
    return text, file_type


# --------------------------------------------------------------------------
# Outlook .msg — minimal CFB (OLE compound file) stream reader
# (email.ts:113-131 parseMSG + readMSGText over MAPI property streams)
# --------------------------------------------------------------------------

_CFB_SIGNATURE = b"\xd0\xcf\x11\xe0\xa1\xb1\x1a\xe1"
_ENDOFCHAIN = 0xFFFFFFFE


def cfb_streams(data: bytes) -> dict[str, bytes]:
    """name → content for every stream in a CFB container (v3, DIFAT head
    only — ample for .msg property streams)."""
    import struct

    if not data.startswith(_CFB_SIGNATURE) or len(data) < 512:
        return {}
    sector_shift = struct.unpack_from("<H", data, 30)[0]
    mini_shift = struct.unpack_from("<H", data, 32)[0]
    sector_size = 1 << sector_shift
    mini_size = 1 << mini_shift
    first_dir = struct.unpack_from("<I", data, 48)[0]
    mini_cutoff = struct.unpack_from("<I", data, 56)[0]
    first_minifat = struct.unpack_from("<I", data, 60)[0]
    difat = struct.unpack_from("<109I", data, 76)

    def sector(index: int) -> bytes:
        start = 512 + index * sector_size
        return data[start : start + sector_size]

    fat = []
    for fs in difat:
        if fs in (0xFFFFFFFF, _ENDOFCHAIN):
            continue
        body = sector(fs)
        fat += list(struct.unpack(f"<{len(body) // 4}I", body))

    def chain(start: int) -> bytes:
        out = []
        seen = set()
        current = start
        while current not in (0xFFFFFFFF, _ENDOFCHAIN) and current not in seen:
            seen.add(current)
            out.append(sector(current))
            if current >= len(fat):
                break
            current = fat[current]
        return b"".join(out)

    directory = chain(first_dir)
    minifat_bytes = chain(first_minifat) if first_minifat != _ENDOFCHAIN else b""
    minifat = list(
        struct.unpack(f"<{len(minifat_bytes) // 4}I", minifat_bytes)
    )

    entries = []
    for off in range(0, len(directory) - 127, 128):
        raw = directory[off : off + 128]
        name_len = struct.unpack_from("<H", raw, 64)[0]
        etype = raw[66]
        if etype not in (1, 2, 5) or name_len < 2:
            continue
        name = raw[: name_len - 2].decode("utf-16-le", errors="replace")
        start = struct.unpack_from("<I", raw, 116)[0]
        size = struct.unpack_from("<Q", raw, 120)[0]
        entries.append((name, etype, start, size))

    root = next((e for e in entries if e[1] == 5), None)
    mini_stream = chain(root[2])[: root[3]] if root else b""

    def mini_chain(start: int, size: int) -> bytes:
        out = []
        seen = set()
        current = start
        while current not in (0xFFFFFFFF, _ENDOFCHAIN) and current not in seen:
            seen.add(current)
            begin = current * mini_size
            out.append(mini_stream[begin : begin + mini_size])
            if current >= len(minifat):
                break
            current = minifat[current]
        return b"".join(out)[:size]

    streams: dict[str, bytes] = {}
    for name, etype, start, size in entries:
        if etype != 2:
            continue
        if size < mini_cutoff:
            streams[name] = mini_chain(start, size)
        else:
            streams[name] = chain(start)[:size]
    return streams


def _msg_property(streams: dict[str, bytes], prop_id: str) -> str:
    """MAPI property stream __substg1.0_<prop><encoding>: 001F = UTF-16LE,
    001E = 8-bit (email.ts readMSGStream)."""
    for name, content in streams.items():
        if name.endswith(f"_{prop_id}001F"):
            return content.decode("utf-16-le", errors="replace").rstrip("\x00")
    for name, content in streams.items():
        if name.endswith(f"_{prop_id}001E"):
            return content.decode("cp1252", errors="replace").rstrip("\x00")
    return ""


def parse_msg(data: bytes) -> dict:
    streams = cfb_streams(data)
    return {
        "subject": _msg_property(streams, "0037"),
        "from": _msg_property(streams, "0C1A"),
        "to": [v for v in [_msg_property(streams, "0E04")] if v],
        "cc": [],
        "date": "",
        "message_id": _msg_property(streams, "1035"),
        "body": _msg_property(streams, "1000"),
        "attachments": [],
    }


def email_to_markdown(data: bytes | str, container: str | None = None) -> str:
    """EML, MBOX or Outlook MSG → markdown; container inferred from the
    OLE signature / 'From ' envelope when not given (email.ts:152-163)."""
    if isinstance(data, str):
        data = data.encode("utf-8")
    if container is None:
        if data.startswith(_CFB_SIGNATURE):
            container = "msg"
        elif data.startswith(b"From "):
            container = "mbox"
        else:
            container = "eml"
    if container == "mbox":
        return format_mailbox([_parse_message(piece) for piece in split_mbox(data)])
    if container == "msg":
        return format_email_message(parse_msg(data))
    return format_email_message(_parse_message(data))
