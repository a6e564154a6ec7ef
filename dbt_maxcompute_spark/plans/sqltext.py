"""The lexical grammar of Spark SQL text, stated once.

Every engine module that reads SQL text — raw scripts and hooks, the
SET preamble, routed DML statements, MV defining queries, prune
predicates — asks this module where string literals, quoted
identifiers and comments begin and end. The grammar is Spark 4.1's
(``SqlBaseLexer.g4``):

- ``'…'`` and ``"…"`` are string literals (double quotes are literals,
  not identifiers, under Spark's default conf). Inside one, ``\\x``
  escapes any character and a doubled quote stands for one quote;
  ``r'…'`` / ``R"…"`` raw literals have no escapes;
- a backtick-quoted identifier, where two backticks stand for one;
- ``--`` runs to the end of the line (a backslash-newline continues
  it); ``/* */`` nests. An unterminated literal, identifier or comment
  runs to the end of the text.

Parsing works on a MASK of the statement (string literals and comments
blanked to spaces, length-preserving) so keyword scans and split
points can use plain regex without being fooled by quoted text, while
every extracted fragment is sliced from the ORIGINAL text.

The scanner is regex-driven: one search per quoted span or comment,
never a Python loop per character.
"""

from __future__ import annotations

import re

# where a quoted span or comment opens; a raw-literal prefix only
# counts at the start of a token (``xr'a'`` is ``xr`` then ``'a'``).
# The lookahead lets the search skip ordinary characters fast.
_OPEN_RX = re.compile(r"(?=[rR'\"`/-])(?:(?<!\w)[rR]['\"]|['\"`]|--|/\*)")
# the body after each opener (keyed by the lowercased opener): it stops
# at the closing delimiter or the end of the text
_BODY_RX = {
    "'": re.compile(r"(?:[^'\\]|\\.?|'')*+", re.S),
    '"': re.compile(r'(?:[^"\\]|\\.?|"")*+', re.S),
    "r'": re.compile(r"[^']*+"),
    'r"': re.compile(r'[^"]*+'),
    "`": re.compile(r"(?:[^`]|``)*+"),
    "--": re.compile(r"(?:\\\n|[^\r\n])*+"),
}
_NEST_RX = re.compile(r"/\*|\*/")
_SPACE_RX = re.compile(r"\s*")
_PAREN_RX = re.compile(r"[()]")
# code tokens between literals: two-char operators, words, numbers,
# then any other single non-space character
_CODE_TOKEN_RX = re.compile(r">=|<=|<>|!=|\|\||[A-Za-z_]\w*|\d+(?:\.\d+)?|\S")
_PLAIN_IDENT_RX = re.compile(r"`([A-Za-z_]\w*)`")
_ESCAPES = {
    "0": "\0", "b": "\b", "n": "\n", "r": "\r", "t": "\t", "Z": "\x1a",
    # kept escaped, as Spark (and MySQL) do, for LIKE patterns
    "%": "\\%", "_": "\\_",
}
_ESCAPE_RX = {
    q: re.compile(r"\\(u[0-9A-Fa-f]{4}|U[0-9A-Fa-f]{8}|[01][0-7]{2}|.)|" + q * 2, re.S)
    for q in "'\""
}


def _spans(sql: str, pos: int = 0):
    """``(kind, start, body_start, body_end, end)`` of every string
    literal (``"str"``), quoted identifier (``"ident"``) and comment
    (``"comment"``) from ``pos`` on, left to right."""
    while m := _OPEN_RX.search(sql, pos):
        start, body = m.span()
        opener = m.group().lower()
        if opener == "/*":
            depth = 1
            end = len(sql)
            for n in _NEST_RX.finditer(sql, body):
                depth += 1 if n.group() == "/*" else -1
                if depth == 0:
                    end = n.end()
                    break
            yield "comment", start, body, end, end
        else:
            body_end = _BODY_RX[opener].match(sql, body).end()
            if opener == "--":
                yield "comment", start, body, body_end, body_end
                end = body_end
            else:
                # the body stops only at its closing delimiter or the end
                end = min(body_end + 1, len(sql))
                yield ("ident" if opener == "`" else "str"), start, body, body_end, end
        pos = end


def mask_sql(sql: str) -> str:
    """Length-preserving mask: string-literal and quoted-identifier
    bodies and whole comments become runs of spaces (the delimiters
    stay), so regexes over the mask cannot match inside them, and
    every match position is valid in ``sql``."""
    out, pos = [], 0
    for kind, start, body, body_end, end in _spans(sql):
        if kind == "comment":
            body = start
        out += [sql[pos:body], " " * (body_end - body), sql[body_end:end]]
        pos = end
    out.append(sql[pos:])
    return "".join(out)


def split_literals(sql: str) -> list[str]:
    """``sql`` as alternating code and string-literal pieces: even
    indices are code (comments replaced by one space, quoted
    identifiers kept), odd indices are whole literal tokens."""
    out, code, pos = [], [], 0
    for kind, start, _, _, end in _spans(sql):
        if kind == "ident":
            continue
        code.append(sql[pos:start])
        if kind == "comment":
            code.append(" ")
        else:
            out += ["".join(code), sql[start:end]]
            code = []
        pos = end
    code.append(sql[pos:])
    out.append("".join(code))
    return out


def tokens(sql: str) -> list[str]:
    """SQL tokens, comments dropped: a string literal or quoted
    identifier is one token (a quoted identifier that needs no quoting
    comes back bare, so `` `x` `` and ``x`` tokenize alike), the rest
    splits into operators, words, numbers and single characters."""
    out, pos = [], 0
    for kind, start, _, _, end in _spans(sql):
        out += _CODE_TOKEN_RX.findall(sql, pos, start)
        if kind == "ident":
            plain = _PLAIN_IDENT_RX.fullmatch(sql, start, end)
            out.append(plain.group(1) if plain else sql[start:end])
        elif kind == "str":
            out.append(sql[start:end])
        pos = end
    out += _CODE_TOKEN_RX.findall(sql, pos)
    return out


def is_literal(token: str) -> bool:
    """Whether a token from :func:`tokens` is a string literal."""
    return token[:1] in ("'", '"') or token[:2].lower() in ("r'", 'r"')


def is_quoted_ident(token: str) -> bool:
    """Whether a token from :func:`tokens` is a quoted identifier."""
    return token[:1] == "`"


def _unescape(m: re.Match) -> str:
    e = m.group(1)
    if e is None:
        return m.group()[0]  # doubled quote
    if len(e) == 1:
        return _ESCAPES.get(e, e)
    if e[0] in "uU":
        return chr(int(e[1:], 16))
    return chr(int(e, 8))


def unquote(lit: str) -> str:
    """The value of one string-literal token, decoded as Spark does:
    ``\\uXXXX`` / ``\\UXXXXXXXX`` code points, ``\\0``-``\\177`` style
    octal, ``\\n`` and friends, doubled quotes; any other escaped
    character stands for itself. Raw literals decode to their body."""
    if lit[:1] in ("r", "R"):
        return lit[2:-1]
    return _ESCAPE_RX[lit[0]].sub(_unescape, lit[1:-1])


def quote(value: str) -> str:
    """The string literal whose value is ``value`` (any text):
    :func:`unquote`'s inverse."""
    return "'" + value.replace("\\", "\\\\").replace("'", "\\'") + "'"


def split_statements(script: str) -> list[str]:
    """Split on semicolons outside literals, quoted identifiers and
    comments. Empty statements are dropped (a trailing ';' produces
    none)."""
    cuts = [-1] + [m.start() for m in re.finditer(";", mask_sql(script))]
    cuts.append(len(script))
    parts = (script[a + 1:b].strip() for a, b in zip(cuts, cuts[1:]))
    return [p for p in parts if p]


def skip_comments(sql: str, pos: int = 0) -> int:
    """Index of the first character at or after ``pos`` that is
    neither whitespace nor inside a comment."""
    while True:
        pos = _SPACE_RX.match(sql, pos).end()
        span = next(_spans(sql, pos), None)
        if span is None or span[0] != "comment" or span[1] != pos:
            return pos
        pos = span[4]


def split_top_level(text: str, masked: str, sep: str = ",") -> list[str]:
    """Split ``text`` at the regex ``sep`` matched in the mask at paren
    depth 0; parts are stripped and empty ones dropped."""
    parts, start = [], 0
    for m in top_level_iter(masked, sep):
        parts.append(text[start:m.start()])
        start = m.end()
    parts.append(text[start:])
    return [p.strip() for p in parts if p.strip()]


def top_level_iter(masked: str, pattern: str) -> list[re.Match]:
    """Case-insensitive regex matches in the mask at paren depth 0."""
    out, depth = [], 0
    parens = _PAREN_RX.finditer(masked)
    p = next(parens, None)
    for m in re.finditer(pattern, masked, re.IGNORECASE):
        while p is not None and p.start() < m.start():
            depth += 1 if p.group() == "(" else -1
            p = next(parens, None)
        if depth == 0:
            out.append(m)
    return out


def find_close(masked: str, open_i: int) -> int:
    """Index of the paren closing ``masked[open_i]``; ValueError when
    it never closes."""
    depth = 0
    for m in _PAREN_RX.finditer(masked, open_i):
        depth += 1 if m.group() == "(" else -1
        if depth == 0:
            return m.start()
    raise ValueError("unbalanced parentheses")


def strip_outer_parens(text: str) -> str:
    """Remove the balanced paren pairs that wrap the whole text."""
    s = text.strip()
    while s.startswith("(") and s.endswith(")"):
        try:
            if find_close(mask_sql(s), 0) != len(s) - 1:
                return s  # closes early: not a wrapping pair
        except ValueError:
            return s
        s = s[1:-1].strip()
    return s
