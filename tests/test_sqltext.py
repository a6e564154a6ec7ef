"""``sqltext.quote`` / ``unquote`` against Spark's own parser: the
renderer is total (any text comes back from ``SELECT <literal>``
unchanged) and the decoder agrees with Spark on literals in both quote
styles, with backslash escapes and doubled-quote escapes mixed."""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from dbt_maxcompute_spark.plans.sqltext import mask_sql, quote, tokens, unquote

# pieces that stress the grammar: quotes, backslashes, escape-looking
# sequences, comment openers, unicode
_TRICKY = ["'", '"', "`", "\\", "''", "\\'", "\\u0041", "\\n", "--", "/*", ";", "é", "😀", "\n"]
_TEXT = st.one_of(
    # lone surrogates cannot cross into the JVM as text
    st.text(st.characters(blacklist_categories=("Cs",)), max_size=20),
    st.lists(st.sampled_from(_TRICKY), max_size=8).map("".join),
)
_ESCAPES = [
    "\\n", "\\t", "\\r", "\\b", "\\Z", "\\0", "\\%", "\\_", "\\'", '\\"', "\\\\",
    "\\u0041", "\\u00e9", "\\U0001F600", "\\u00", "\\101", "\\012", "\\377", "\\q", "\\ ",
]
_PLAIN = st.text(
    st.characters(blacklist_categories=("Cs",), blacklist_characters="'\"\\"), max_size=4
)


@st.composite
def _literals(draw):
    q = draw(st.sampled_from(["'", '"']))
    other = "'" if q == '"' else '"'
    if draw(st.booleans()) and draw(st.booleans()):
        # raw literal: no escapes, the body only excludes its quote
        return "r" + q + draw(st.text(st.sampled_from(["a", "\\", other, "é"]), max_size=6)) + q
    parts = draw(
        st.lists(st.one_of(_PLAIN, st.sampled_from(_ESCAPES + [q * 2, other])), max_size=8)
    )
    return q + "".join(parts) + q


@given(s=_TEXT)
@settings(max_examples=500, deadline=None)
def test_quote_unquote_round_trip(s):
    lit = quote(s)
    assert tokens(lit) == [lit]
    assert unquote(lit) == s


@given(values=st.lists(_TEXT, min_size=1, max_size=6))
@settings(max_examples=40, deadline=None)
def test_quote_renders_any_text_for_spark(spark, values):
    row = spark.sql("SELECT " + ", ".join(quote(v) for v in values)).first()
    assert list(row) == values


@given(lits=st.lists(_literals(), min_size=1, max_size=6))
@settings(max_examples=40, deadline=None)
def test_unquote_decodes_like_spark(spark, lits):
    for lit in lits:
        # the lexer sees ONE literal token, whatever its escapes
        assert tokens(lit) == [lit]
        assert mask_sql(lit).strip("rR'\" ") == ""
    row = spark.sql("SELECT " + ", ".join(lits)).first()
    assert list(row) == [unquote(lit) for lit in lits]
