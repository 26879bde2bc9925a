"""CoNLL-column / inline-XML fixture parsing (evaluation-harness I/O).

Production input is the parquet/Iceberg source table; these parsers exist so
the P/R harness can consume the reference's training/eval fixtures with
byte-identical offset arithmetic.
"""

from __future__ import annotations

import regex

from .tagging import Annotation

# Reference: FileFormatParser.getAnnotationsFromXmlText (:536-580)
_XML_ANNOTATION_PATTERN = regex.compile(
    r"\<([A-Z]+)\>(.{1,1000}?)\</\1\>", regex.DOTALL | regex.IGNORECASE
)
_ANY_TAG_PATTERN = regex.compile(r"<(.*?)>", regex.DOTALL | regex.IGNORECASE)
_STRIP_TAGS_PATTERN = regex.compile(r"</?[^>]+>")


def _count_tag_length(tagged_text: str) -> int:
    """Sum of lengths of all <...> tags (reference: HtmlHelper.java:105-116)."""
    return sum(len(m.group(1)) + 2 for m in _ANY_TAG_PATTERN.finditer(tagged_text))


def get_annotations_from_xml_text(tagged_text: str) -> list[Annotation]:
    """Inline <TAG>span</TAG> -> annotations with plain-text char offsets.

    Reference: FileFormatParser.java:536-580 — cumulative tag-length
    subtraction; nested tags stripped from the value.
    """
    annotations = []
    cumulated_tag_offset = 0
    for m in _XML_ANNOTATION_PATTERN.finditer(tagged_text):
        concept = m.group(1)
        entity = m.group(2)
        nested_tag_length = _count_tag_length(entity)
        entity = _STRIP_TAGS_PATTERN.sub("", entity).replace("\n", "")
        tag_offset = len(concept) + 2
        cumulated_tag_offset += tag_offset
        offset = m.start() + tag_offset - cumulated_tag_offset
        annotations.append(Annotation(offset, entity, concept))
        cumulated_tag_offset += nested_tag_length + len(concept) + 3
    return annotations


def get_text_from_xml(tagged_text: str) -> str:
    """Strip all tags (reference: FileFormatParser.getTextFromXML :192-196)."""
    return _STRIP_TAGS_PATTERN.sub("", tagged_text)


def _is_bracket(ch: str) -> bool:
    return ch in "(){}[]"


def column_to_xml(column_text: str, separator: str = "\t") -> str:
    """CoNLL column format -> inline-XML tagged text.

    Reference: FileFormatParser.ColumnToXmlAction (FileFormatParser.java:
    39-110): one token TAB tag per line; blank line = break (newline in
    text); ``=-DOCSTART-`` lines skipped; space inserted before tokens that
    start with letter/digit/bracket unless a tag was just opened or a break
    preceded; tag transitions close/open XML elements.
    """
    out: list[str] = []
    current_tag = "o"
    previous_line_break = True
    at_beginning = True
    lines = column_text.split("\n")
    if lines and lines[-1] == "":
        lines.pop()  # a trailing \n is not an extra (empty) line
    for line_number, line in enumerate(lines):
        # Java String.split drops trailing empty fields (a bare "\t" line
        # yields a zero-length array, not ['', '']).
        parts = line.split(separator)
        while parts and parts[-1] == "":
            parts.pop()
        if len(parts) < 2 and at_beginning:
            at_beginning = False
            continue
        at_beginning = False
        if "=-DOCSTART-" in line:
            continue
        if len(parts) < 2:
            if line == "":
                if current_tag.lower() != "o" and line_number > 1:
                    out.append("</" + current_tag + ">")
                    current_tag = "o"
                out.append("\n")
                previous_line_break = True
            continue
        open_tag = False
        tag = parts[1]
        value = parts[0]
        if current_tag.lower() != tag.lower():
            if current_tag.lower() != "o" and line_number > 1:
                out.append("</" + current_tag + ">")
            if tag.lower() != "o":
                if line_number > 1 and not previous_line_break:
                    out.append(" ")
                out.append("<" + tag + ">")
                open_tag = True
        current_tag = tag
        if (
            value
            and (value[0].isalnum() or _is_bracket(value[0]))
            and not open_tag
            and line_number > 1
            and not previous_line_break
        ):
            out.append(" ")
        out.append(value)
        previous_line_break = False
    return "".join(out)


def get_annotations_from_column(column_text: str) -> list[Annotation]:
    """Phrase-level annotations from a CoNLL column file (via XML form)."""
    return get_annotations_from_xml_text(column_to_xml(column_text))


def get_text_from_column(column_text: str) -> str:
    """Plain text of a CoNLL column file (reference: getText :198-205)."""
    return get_text_from_xml(column_to_xml(column_text))


def _split_columns(line: str, separator: str) -> list[str]:
    """Java String.split semantics: trailing empty fields dropped."""
    parts = line.split(separator)
    while parts and parts[-1] == "":
        parts.pop()
    return parts


def column_to_xml_token_based(column_text: str, separator: str = "\t") -> str:
    """Per-token XML tagging, O tags included
    (FileFormatParser.columnToXmlTokenBased :252-285)."""
    out: list[str] = []
    previous_line_break = True
    lines = column_text.split("\n")
    if lines and lines[-1] == "":
        lines.pop()  # a trailing \n is not an extra (empty) line
    for line_number, line in enumerate(lines):
        if "=-DOCSTART-" in line:
            continue
        parts = _split_columns(line, separator)
        if len(parts) < 2:
            if line == "":
                out.append("\n")
                previous_line_break = True
            continue
        value = parts[0]
        if (
            value
            and (value[0].isalnum() or _is_bracket(value[0]))
            and line_number > 1
            and not previous_line_break
        ):
            out.append(" ")
        out.append(f"<{parts[1]}>{value}</{parts[1]}>")
        previous_line_break = False
    return "".join(out)


def column_to_bracket(column_text: str, separator: str = "\t") -> str:
    """Column -> ``[TAG token token ]`` bracket format
    (FileFormatParser.columnToBracket :287-319)."""
    out: list[str] = []
    current_tag = ""
    for line_number, line in enumerate(column_text.split("\n")):
        parts = _split_columns(line, separator)
        if len(parts) < 2:
            continue
        open_tag = False
        if current_tag.lower() != parts[1].lower():
            if current_tag.lower() != "o" and line_number > 1 and current_tag != "":
                out.append(" ]")
            if parts[1].lower() != "o":
                if line_number > 1:
                    out.append(" ")
                out.append("[" + parts[1] + " ")
                open_tag = True
        current_tag = parts[1]
        if parts[0] and parts[0][0].isalnum() and not open_tag:
            out.append(" ")
        out.append(parts[0])
    return "".join(out)


def column_to_column_bio(column_text: str, separator: str = "\t") -> str:
    """Phrase tags -> BIO tags; multi-separator lines keep everything
    before the LAST column as the token
    (FileFormatParser.columnToColumnBio :321-358)."""
    out: list[str] = []
    last_tag = ""
    for line in column_text.split("\n"):
        parts = _split_columns(line, separator)
        if len(parts) < 2:
            continue
        token = separator.join(parts[:-1])
        tag = parts[-1]
        bio = "O"
        if tag.lower() != "o":
            bio = ("I-" if last_tag.lower() == tag.lower() else "B-") + tag
        last_tag = tag
        out.append(token + separator + bio)
    return "\n".join(out) + ("\n" if out else "")


def column_bio_to_column(column_text: str, separator: str = "\t") -> str:
    """Strip BIO prefixes (FileFormatParser.columnBioToColumn :360-377)."""
    out: list[str] = []
    for line in column_text.split("\n"):
        parts = _split_columns(line, separator)
        if len(parts) < 2:
            continue
        tag = parts[1]
        if tag.startswith("B-"):
            tag = tag[2:]
        elif tag.startswith("I-"):
            tag = tag[2:]
        out.append(parts[0] + separator + tag)
    return "\n".join(out) + ("\n" if out else "")


def xml_to_column_text(xml_text: str, separator: str = "\t") -> str:
    """Inline XML -> column lines via the reference tokenizer
    (FileFormatParser.XmlToColumnAction :117-154, xmlToColumnText
    :394-404): a </...> token closes the tag scope, a <...> token opens
    it, every other token is emitted with the open tag."""
    from .text import tokenize

    out: list[str] = []
    for line in xml_text.split("\n"):
        open_tag = "O"
        for token in tokenize(line):
            if token.startswith("</"):
                open_tag = "O"
            elif token.startswith("<"):
                open_tag = token[1:].split(">", 1)[0]
            else:
                out.append(token + separator + open_tag + "\n")
        out.append("\n")
    return "".join(out)


def column_to_slash(
    column_text: str, separator: str = "\t", slash_sign: str = "|"
) -> str:
    """Column lines -> ``token|TAG`` stream
    (FileFormatParser.columnToSlash :425-444)."""
    out: list[str] = []
    for line in column_text.split("\n"):
        parts = _split_columns(line, separator)
        if len(parts) < 2:
            continue
        out.append(parts[0] + slash_sign + parts[1] + " ")
    return "".join(out)


def bracket_to_xml_text(input_text: str) -> str:
    """``[TAG span ]`` -> ``<TAG>span</TAG>``
    (FileFormatParser.bracketToXmlText :452-464)."""
    output = input_text
    pattern = regex.compile(
        r"\[(\w+)\s([^\]]+?)(\s([^\]]+?))*?\s{0,2}\]",
        regex.DOTALL | regex.IGNORECASE,
    )
    for m in pattern.finditer(input_text):
        whole = m.group(0)
        tag_name = whole[1 : whole.index(" ")].strip()
        tag_content = whole[whole.index(" ") + 1 : whole.rindex("]")].strip()
        output = output.replace(whole, f"<{tag_name}>{tag_content}</{tag_name}>")
    return output


def get_seed_annotations(column_text: str, seeds_per_concept: int) -> list[Annotation]:
    """First N distinct-valued annotations per concept, corpus order
    (FileFormatParser.getSeedAnnotations :600-628; -1 = unlimited)."""
    annotations: list[Annotation] = []
    concept_counts: dict[str, int] = {}
    seen_values: set[str] = set()
    for a in get_annotations_from_column(column_text):
        n = concept_counts.get(a.tag, 0)
        if (n < seeds_per_concept or seeds_per_concept == -1) and a.value not in seen_values:
            annotations.append(a)
            seen_values.add(a.value)
            concept_counts[a.tag] = n + 1
    return annotations
