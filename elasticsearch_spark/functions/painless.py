"""Painless-subset compiler + interpreter.

The reference compiles Painless scripts per context (score, filter, field,
ingest, scripted_metric init/map/combine/reduce) into JVM bytecode —
``modules/lang-painless/src/main/java/org/elasticsearch/painless/Compiler.java``
drives ANTLR parse → SSA-ish semantic pass → ASM writer; the script contexts
live in ``ScriptContext``/``ScriptService.java:57,580-638``. This module is
the Spark-side analog: a recursive-descent parser over the same surface
grammar (``PainlessParser.g4``) and a tree-walking interpreter with Java
numeric semantics, executed per row inside Arrow-batched pandas UDFs.

Scope (the subset, chosen from the yaml test corpus
``modules/lang-painless/src/yamlRestTest/resources/rest-api-spec/test/painless/``):
  - locals (``def``/typed declarations), assignment incl. compound ops,
    ``if``/``else``, classic ``for``, ``for (x in coll)``, ``while``,
    ``return``, ``break``/``continue``, ternary, elvis ``?:``,
    null-safe ``?.``, lambdas (as comparator/predicate args);
  - Java semantics where they differ from Python: int/int division
    truncates toward zero, ``%`` keeps the dividend's sign, ``+`` with a
    String operand concatenates via Java's toString rendering;
  - whitelisted methods on String/List/Map/Number plus the ``Math``,
    ``Integer``/``Long``/``Double``/``Float``/``Boolean``, ``String``,
    ``Collections``, ``Arrays`` statics the whitelist exposes
    (``modules/lang-painless/src/main/resources/org/elasticsearch/painless/``);
  - context globals: ``doc['f']`` (DocValues: .value/.values/.size()/
    .empty/.length), ``params``, ``_score``, ``_value``, ``ctx`` (ingest),
    ``state``/``states`` (scripted_metric), ``emit()`` (runtime fields).

  - regex literals ``/pat/flags`` (slash disambiguated by lexer context
    like PainlessLexer.g4's REGEX mode) with ``=~`` (find) / ``==~``
    (matches) and the Pattern/Matcher whitelist subset.

  - ``try``/``catch`` (trap grammar, Exception/RuntimeException catch-all,
    mapped Java exception types) and ``throw new <Type>(msg)``.

Varargs statics (String.format / String.join / Arrays.asList), ``new
T[] {...}`` array-literal varargs calls, and the Stream/Collectors subset
the whitelist exposes are implemented; generics parse-and-ignore.

Execution model: ``compile_painless`` caches the AST per source;
``script_column`` walks the AST for referenced doc fields so the UDF ships
only those columns (column pruning still reaches the scan), then evaluates
per row inside one Arrow batch. Per-row Python is the contract here — the
reference also runs scripts per document; batching amortizes transfer.
"""

from __future__ import annotations

import math
import re
from functools import lru_cache

import pandas as pd

__all__ = [
    "PainlessError",
    "compile_painless",
    "execute",
    "is_painless",
    "referenced_doc_fields",
    "script_column",
    "DocValues",
    "DocMap",
]


class PainlessError(Exception):
    pass


# --------------------------------------------------------------------------
# Lexer
# --------------------------------------------------------------------------

_TOKEN_RE = re.compile(
    r"""
    (?P<ws>\s+|//[^\n]*|/\*.*?\*/)
  | (?P<num>
        0[xX][0-9a-fA-F]+[lL]?
      | (?:\d+\.\d*|\.\d+|\d+)(?:[eE][+-]?\d+)?[fFdDlL]?
    )
  | (?P<str>'(?:[^'\\]|\\.)*'|"(?:[^"\\]|\\.)*")
  | (?P<id>[A-Za-z_$][A-Za-z0-9_]*)
  | (?P<op>
        \?\.|\?:|->|\+\+|--|\+=|-=|\*=|/=|%=|&&|\|\||==~|=~|==|!=|<=|>=|<<|>>
      | [-+*/%=<>!?:.,;(){}\[\]&|^~]
    )
    """,
    re.VERBOSE | re.DOTALL,
)

_KEYWORDS = {
    "if", "else", "for", "while", "do", "return", "break", "continue",
    "in", "new", "true", "false", "null", "instanceof", "def",
    "try", "catch", "throw",
}

_ESCAPES = {"n": "\n", "t": "\t", "r": "\r", "\\": "\\", "'": "'", '"': '"',
            "0": "\0", "b": "\b", "f": "\f"}


def _unescape(s: str) -> str:
    out, i = [], 0
    while i < len(s):
        c = s[i]
        if c == "\\" and i + 1 < len(s):
            nxt = s[i + 1]
            if nxt == "u" and i + 5 < len(s):
                out.append(chr(int(s[i + 2:i + 6], 16)))
                i += 6
                continue
            out.append(_ESCAPES.get(nxt, nxt))
            i += 2
        else:
            out.append(c)
            i += 1
    return "".join(out)


# tokens that can END an operand — a '/' after one of these is division;
# after anything else it opens a regex literal (the Painless grammar makes
# the same slash disambiguation ANTLR-side, PainlessLexer.g4 REGEX mode)
_OPERAND_END = {"num", "str", "id", "regex", ")", "]", "++", "--",
                "true", "false", "null"}
_JREGEX_FLAGS = {"i": re.IGNORECASE, "m": re.MULTILINE, "s": re.DOTALL,
                 "x": re.VERBOSE, "c": 0, "l": 0, "U": 0, "u": 0}


def _compile_jregex(pat: str, flags_s: str):
    f = 0
    for c in flags_s:
        f |= _JREGEX_FLAGS[c]
    if "l" in flags_s:  # Pattern.LITERAL
        pat = re.escape(pat)
    try:
        return JPattern(re.compile(pat, f))
    except re.error as e:
        raise PainlessError(f"bad regex literal /{pat}/: {e}") from None


def _lex(src: str) -> list[tuple[str, object]]:
    toks, pos = [], 0
    while pos < len(src):
        # context-sensitive regex literal: '/' opens one only where an
        # operand may start (never straight after a value), mirroring the
        # reference lexer's mode switch; '//' and '/*' stay comments
        if src[pos] == "/" and src[pos + 1:pos + 2] not in ("/", "*") \
                and (not toks or toks[-1][0] not in _OPERAND_END):
            j = pos + 1
            while j < len(src) and src[j] != "/":
                j += 2 if src[j] == "\\" else 1
            if j < len(src):
                pat = src[pos + 1:j]
                j += 1
                fs = j
                while j < len(src) and src[j] in "cilmsUux":
                    j += 1
                toks.append(("regex", _compile_jregex(pat, src[fs:j])))
                pos = j
                continue
        m = _TOKEN_RE.match(src, pos)
        if not m:
            raise PainlessError(f"painless lex error at {src[pos:pos + 20]!r}")
        pos = m.end()
        kind = m.lastgroup
        text = m.group()
        if kind == "ws":
            continue
        if kind == "num":
            low = text.lower()
            if low.startswith("0x"):
                toks.append(("num", int(low.rstrip("l"), 16)))
            elif low.endswith(("f", "d")) or "." in low or "e" in low:
                toks.append(("num", float(low.rstrip("fd"))))
            else:
                toks.append(("num", int(low.rstrip("l"))))
        elif kind == "str":
            toks.append(("str", _unescape(text[1:-1])))
        elif kind == "id":
            toks.append((text, text) if text in _KEYWORDS else ("id", text))
        else:
            toks.append((text, text))
    toks.append(("eof", None))
    return toks


# --------------------------------------------------------------------------
# Parser → tuple AST
# --------------------------------------------------------------------------

_TYPE_WORDS = {
    "def", "int", "long", "short", "byte", "float", "double", "boolean",
    "char", "String", "Map", "HashMap", "List", "ArrayList", "Object",
    "CharSequence", "Number", "Integer", "Long", "Double", "Float",
    "Boolean", "BigInteger", "void",
}


class _Parser:
    def __init__(self, toks):
        self.toks = toks
        self.i = 0

    def peek(self, k=0):
        return self.toks[min(self.i + k, len(self.toks) - 1)]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def accept(self, kind):
        if self.peek()[0] == kind:
            return self.next()
        return None

    def expect(self, kind):
        t = self.next()
        if t[0] != kind:
            raise PainlessError(f"painless parse: expected {kind!r}, got {t!r}")
        return t

    # ---- statements ----

    def program(self):
        stmts = []
        while self.peek()[0] != "eof":
            fn = self._try_function_def()
            stmts.append(fn if fn is not None else self.statement())
        return ("block", stmts)

    def _try_function_def(self):
        """User function definitions (Painless allows them before the main
        body): TYPE ID(TYPE ID, ...) { block }."""
        save = self.i
        k, v = self.peek()
        if not (k == "def" or (k == "id" and v in _TYPE_WORDS)):
            return None
        nk, nv = self.peek(1)
        if nk != "id" or self.peek(2)[0] != "(":
            return None
        self.next()  # return type
        name = self.next()[1]
        self.expect("(")
        params = []
        while self.peek()[0] != ")":
            pk, pv = self.peek()
            if pk == "def" or (pk == "id" and pv in _TYPE_WORDS and self.peek(1)[0] == "id"):
                self.next()  # param type
            t = self.peek()
            if t[0] != "id":
                self.i = save
                return None
            params.append(self.next()[1])
            if not self.accept(","):
                break
        self.expect(")")
        if self.peek()[0] != "{":
            self.i = save
            return None
        body = self.statement()
        return ("funcdef", name, params, body)

    def _is_decl_start(self):
        """A statement starts a declaration iff it opens with a type word
        (or a capitalized identifier) followed by an identifier."""
        k, v = self.peek()
        if k == "def":
            return True
        if k != "id" or v not in _TYPE_WORDS and not (v and v[0].isupper()):
            return False
        # lookahead past optional generics: Map<String,def> x
        # (the lexer emits '>>' as one shift token — nested generics like
        # Map<String,List<String>> close two levels at once)
        j = self.i + 1
        depth = 0
        while True:
            nk = self.toks[min(j, len(self.toks) - 1)][0]
            if nk == "<":
                depth += 1
            elif nk in (">", ">>"):
                depth -= 1 if nk == ">" else 2
                if depth < 0:
                    return False
            elif depth == 0:
                return nk == "id"
            j += 1
            if j > self.i + 24:
                return False

    def _skip_type(self):
        self.next()
        if self.accept("<"):
            depth = 1
            while depth:
                k = self.next()[0]
                if k == "<":
                    depth += 1
                elif k == ">":
                    depth -= 1
                elif k == ">>":  # shift token = two generic closers
                    depth -= 2
                elif k == "eof":
                    raise PainlessError("painless parse: unterminated generics")
        while self.peek()[0] == "[" and self.peek(1)[0] == "]":
            self.next()
            self.next()

    def statement(self):
        k, _ = self.peek()
        if k == "{":
            self.next()
            stmts = []
            while not self.accept("}"):
                stmts.append(self.statement())
            return ("block", stmts)
        if k == "if":
            self.next()
            self.expect("(")
            cond = self.expression()
            self.expect(")")
            then = self.statement()
            els = self.statement() if self.accept("else") else None
            return ("if", cond, then, els)
        if k == "while":
            self.next()
            self.expect("(")
            cond = self.expression()
            self.expect(")")
            return ("while", cond, self.statement())
        if k == "do":
            self.next()
            body = self.statement()
            self.expect("while")
            self.expect("(")
            cond = self.expression()
            self.expect(")")
            self.accept(";")
            return ("dowhile", body, cond)
        if k == "for":
            return self._for()
        if k == "try":
            # PainlessParser.g4: try block trap+ ; trap: CATCH '(' type ID ')' block
            self.next()
            body = self.statement()
            traps = []
            while self.peek()[0] == "catch":
                self.next()
                self.expect("(")
                etype = self.next()[1]  # exception type word
                ename = self.expect("id")[1]
                self.expect(")")
                traps.append((etype, ename, self.statement()))
            if not traps:
                raise PainlessError("painless parse: try without catch")
            return ("try", body, traps)
        if k == "throw":
            self.next()
            e = self.expression()
            self.accept(";")
            return ("throw", e)
        if k == "return":
            self.next()
            e = None if self.peek()[0] in (";", "eof", "}") else self.expression()
            self.accept(";")
            return ("return", e)
        if k == "break":
            self.next()
            self.accept(";")
            return ("break",)
        if k == "continue":
            self.next()
            self.accept(";")
            return ("continue",)
        if k == ";":
            self.next()
            return ("block", [])
        if self._is_decl_start():
            d = self._decl()
            self.accept(";")
            return d
        e = self.expression()
        self.accept(";")
        return ("expr", e)

    def _decl(self):
        self._skip_type()
        pairs = []
        while True:
            name = self.expect("id")[1]
            init = self.expression() if self.accept("=") else None
            pairs.append((name, init))
            if not self.accept(","):
                break
        return ("decl", pairs)

    def _for(self):
        self.expect("for")
        self.expect("(")
        # foreach: for (def x in expr) / for (x in expr)
        save = self.i
        try:
            if self._is_decl_start():
                self._skip_type()
            name_t = self.accept("id")
            if name_t and self.accept("in"):
                it = self.expression()
                self.expect(")")
                return ("foreach", name_t[1], it, self.statement())
        except PainlessError:
            pass
        self.i = save
        init = None
        if self.peek()[0] != ";":
            init = self._decl() if self._is_decl_start() else ("expr", self.expression())
        self.expect(";")
        cond = None if self.peek()[0] == ";" else self.expression()
        self.expect(";")
        update = None if self.peek()[0] == ")" else ("expr", self.expression())
        self.expect(")")
        return ("for", init, cond, update, self.statement())

    # ---- expressions ----

    def expression(self):
        return self._assignment()

    _ASSIGN_OPS = {"=", "+=", "-=", "*=", "/=", "%="}

    def _assignment(self):
        left = self._ternary()
        k = self.peek()[0]
        if k in self._ASSIGN_OPS:
            self.next()
            right = self._assignment()
            return ("assign", left, k, right)
        return left

    def _ternary(self):
        c = self._elvis()
        if self.accept("?"):
            a = self._assignment()
            self.expect(":")
            b = self._assignment()
            return ("ternary", c, a, b)
        return c

    def _elvis(self):
        e = self._or()
        while self.accept("?:"):
            e = ("elvis", e, self._or())
        return e

    def _or(self):
        e = self._and()
        while self.accept("||"):
            e = ("or", e, self._and())
        return e

    def _and(self):
        e = self._bitor()
        while self.accept("&&"):
            e = ("and", e, self._bitor())
        return e

    def _bitor(self):
        e = self._bitxor()
        while self.peek()[0] == "|" and self.peek(1)[0] != "|":
            self.next()
            e = ("bin", "|", e, self._bitxor())
        return e

    def _bitxor(self):
        e = self._bitand()
        while self.accept("^"):
            e = ("bin", "^", e, self._bitand())
        return e

    def _bitand(self):
        e = self._equality()
        while self.peek()[0] == "&" and self.peek(1)[0] != "&":
            self.next()
            e = ("bin", "&", e, self._equality())
        return e

    def _equality(self):
        e = self._relational()
        while self.peek()[0] in ("==", "!=", "=~", "==~"):
            op = self.next()[0]
            e = ("bin", op, e, self._relational())
        return e

    def _relational(self):
        e = self._shift()
        while True:
            k = self.peek()[0]
            if k in ("<", ">", "<=", ">="):
                op = self.next()[0]
                e = ("bin", op, e, self._shift())
            elif k == "instanceof":
                self.next()
                tname = self.expect("id")[1]
                e = ("instanceof", e, tname)
            else:
                return e

    def _shift(self):
        e = self._additive()
        while self.peek()[0] in ("<<", ">>"):
            op = self.next()[0]
            e = ("bin", op, e, self._additive())
        return e

    def _additive(self):
        e = self._multiplicative()
        while self.peek()[0] in ("+", "-"):
            op = self.next()[0]
            e = ("bin", op, e, self._multiplicative())
        return e

    def _multiplicative(self):
        e = self._unary()
        while self.peek()[0] in ("*", "/", "%"):
            op = self.next()[0]
            e = ("bin", op, e, self._unary())
        return e

    def _unary(self):
        k = self.peek()[0]
        if k in ("!", "-", "+", "~"):
            self.next()
            return ("un", k, self._unary())
        if k in ("++", "--"):
            self.next()
            tgt = self._unary()
            return ("incr", tgt, 1 if k == "++" else -1, True)
        # cast: (int) expr / (List) expr / (List<String>) expr /
        # (int[]) expr — parens wrapping a type word, optionally with
        # generic arguments (erased to the raw type: the reference
        # grammar has no generics, PainlessParser.g4 `type`; accepting
        # and erasing them is a documented extension) or array suffixes
        if k == "(" and self.peek(1)[0] == "id" and \
                self.peek(1)[1] in _TYPE_WORDS:
            j = self.i + 2
            nt = len(self.toks)
            ok = True
            if j < nt and self.toks[j][0] == "<":
                depth, j = 1, j + 1
                while depth > 0 and j < nt:
                    tk = self.toks[j][0]
                    if tk == "<":
                        depth += 1
                    elif tk == ">":
                        depth -= 1
                    elif tk == ">>":
                        depth -= 2
                    elif tk == "eof":
                        ok = False
                        break
                    j += 1
                ok = ok and depth <= 0
            arr = 0
            while ok and j + 1 < nt and self.toks[j][0] == "[" \
                    and self.toks[j + 1][0] == "]":
                arr += 1
                j += 2
            if ok and j < nt and self.toks[j][0] == ")":
                tname = self.peek(1)[1] + "[]" * arr
                self.i = j + 1
                return ("cast", tname, self._unary())
        return self._postfix()

    def _postfix(self):
        e = self._primary()
        while True:
            k = self.peek()[0]
            if k in (".", "?."):
                nullsafe = k == "?."
                self.next()
                name = self.next()[1]
                if self.peek()[0] == "(":
                    args = self._args()
                    e = ("call", e, name, args, nullsafe)
                else:
                    e = ("field", e, name, nullsafe)
            elif k == "[":
                self.next()
                idx = self.expression()
                self.expect("]")
                e = ("index", e, idx)
            elif k in ("++", "--"):
                self.next()
                e = ("incr", e, 1 if k == "++" else -1, False)
            else:
                return e

    def _args(self):
        self.expect("(")
        args = []
        while self.peek()[0] != ")":
            args.append(self._lambda_or_expr())
            if not self.accept(","):
                break
        self.expect(")")
        return args

    def _lambda_or_expr(self):
        # (a, b) -> expr | x -> expr
        if self.peek()[0] == "id" and self.peek(1)[0] == "->":
            p = self.next()[1]
            self.next()
            return ("lambda", [p], self._lambda_body())
        if self.peek()[0] == "(":
            save = self.i
            self.next()
            params = []
            ok = True
            while True:
                t = self.peek()
                if t[0] == "id" and t[1] in _TYPE_WORDS and self.peek(1)[0] == "id":
                    self.next()  # typed lambda param
                    t = self.peek()
                if t[0] == "id":
                    params.append(self.next()[1])
                    if self.accept(","):
                        continue
                    if self.accept(")"):
                        break
                ok = False
                break
            if ok and self.peek()[0] == "->":
                self.next()
                return ("lambda", params, self._lambda_body())
            self.i = save
        return self.expression()

    def _lambda_body(self):
        if self.peek()[0] == "{":
            return self.statement()
        return ("return", self.expression())

    def _primary(self):
        k, v = self.next()
        if k == "num" or k == "str" or k == "regex":
            return ("lit", v)
        if k == "true":
            return ("lit", True)
        if k == "false":
            return ("lit", False)
        if k == "null":
            return ("lit", None)
        if k == "new":
            # `def` is a keyword token but a legal array element type
            # (new def[] {...} — the varargs-call array literal)
            if self.peek()[0] == "def":
                tname = self.next()[0]
            else:
                tname = self.expect("id")[1]
            if self.accept("<"):
                depth = 1
                while depth:
                    t = self.next()[0]
                    depth += (t == "<") - (t == ">")
            if self.peek()[0] == "[":
                self.next()
                if self.accept("]"):  # new T[] { e1, e2, ... } initializer
                    self.expect("{")
                    items = []
                    while self.peek()[0] != "}":
                        items.append(self.expression())
                        if not self.accept(","):
                            break
                    self.expect("}")
                    return ("list", items)
                size = self.expression()  # new int[3]
                self.expect("]")
                return ("newarr", tname, size)
            return ("new", tname, self._args())
        if k == "(":
            e = self.expression()
            self.expect(")")
            return e
        if k == "[":
            # list literal [a, b] | map literal [k: v, ...] | empty map [:]
            if self.accept(":"):
                self.expect("]")
                return ("map", [])
            items = []
            is_map = None
            while self.peek()[0] != "]":
                first = self.expression()
                if is_map is None:
                    is_map = self.peek()[0] == ":"
                if is_map:
                    self.expect(":")
                    items.append((first, self.expression()))
                else:
                    items.append(first)
                if not self.accept(","):
                    break
            self.expect("]")
            return ("map", items) if is_map else ("list", items)
        if k == "id":
            if self.peek()[0] == "(":
                return ("call", None, v, self._args(), False)
            return ("var", v)
        raise PainlessError(f"painless parse: unexpected token {k!r}")


@lru_cache(maxsize=512)
def compile_painless(src: str):
    """Parse a Painless source string to its AST (cached per source)."""
    return _Parser(_lex(src)).program()


# --------------------------------------------------------------------------
# Runtime values
# --------------------------------------------------------------------------

class DocValues:
    """doc['field'] — the reference's ScriptDocValues: sorted multi-value
    view with .value (first), .values/.getValues(), .size(), .empty,
    .length, and index access."""

    __slots__ = ("vals",)

    def __init__(self, raw):
        if raw is None:
            self.vals = []
        elif isinstance(raw, (list, tuple)):
            vals = [x for x in raw if x is not None]
            if len(vals) > 1:
                # ScriptDocValues are SORTED (Lucene sorted doc values) —
                # 50_script_doc_values.yml pins .value = the minimum;
                # non-comparable payloads (structs, geo) keep input order
                try:
                    vals.sort()
                except TypeError:
                    pass
            self.vals = vals
        else:
            self.vals = [raw]

    @property
    def value(self):
        return self.vals[0] if self.vals else None

    @property
    def values(self):
        return self.vals

    @property
    def empty(self):
        return not self.vals

    @property
    def length(self):
        return len(self.vals)

    def __getitem__(self, i):
        return self.vals[i]

    def __iter__(self):
        return iter(self.vals)

    def __len__(self):
        return len(self.vals)


class DocMap:
    """The per-document ``doc`` map: field name → DocValues."""

    __slots__ = ("row",)

    def __init__(self, row: dict):
        self.row = row

    def __getitem__(self, k):
        if k not in self.row:
            raise PainlessError(f"doc field not in script inputs: {k!r}")
        return DocValues(self.row[k])

    def containsKey(self, k):  # noqa: N802 — Java surface
        return k in self.row and self.row[k] is not None

    def get(self, k):
        return DocValues(self.row.get(k))


class _JEnum:
    """A Java enum constant (DayOfWeek/Month subset): name + ordinal value
    (``getValue`` is 1-based like java.time's enums)."""

    __slots__ = ("name", "value")

    def __init__(self, name, value):
        self.name = name
        self.value = value

    def getValue(self):  # noqa: N802 — Java surface
        return self.value

    def getDisplayName(self, style=None, locale=None):  # noqa: N802
        # TextStyle.FULL + Locale.ROOT → "Monday"; SHORT → "Mon";
        # NARROW → "M" (java.time.format.TextStyle)
        full = self.name.capitalize()
        s = getattr(style, "name", "FULL") if style is not None else "FULL"
        if s in ("SHORT", "SHORT_STANDALONE"):
            return full[:3]
        if s in ("NARROW", "NARROW_STANDALONE"):
            return full[:1]
        return full

    def name_(self):
        return self.name

    def toString(self):  # noqa: N802
        return self.name

    def __str__(self):
        return self.name

    def __eq__(self, other):
        return isinstance(other, _JEnum) and other.name == self.name or \
            other == self.name

    def __hash__(self):
        return hash(self.name)


_DOW = ["MONDAY", "TUESDAY", "WEDNESDAY", "THURSDAY", "FRIDAY",
        "SATURDAY", "SUNDAY"]
_MONTHS = ["JANUARY", "FEBRUARY", "MARCH", "APRIL", "MAY", "JUNE", "JULY",
           "AUGUST", "SEPTEMBER", "OCTOBER", "NOVEMBER", "DECEMBER"]


def _iso_instant(ms: int) -> str:
    """java.time.Instant.toString for an epoch-millis value (millis kept
    when non-zero, the reference's date_field emit rendering keeps them
    always — use _iso_millis for that)."""
    import datetime as _dt

    dt = _dt.datetime.fromtimestamp(ms / 1000.0, _dt.timezone.utc)
    if ms % 1000:
        return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"
    return dt.strftime("%Y-%m-%dT%H:%M:%SZ")


def _iso_millis(ms: int) -> str:
    """Epoch millis → the fixed-millis ISO form the date_field execute
    context renders (``2015-01-01T12:10:30.000Z``)."""
    import datetime as _dt

    dt = _dt.datetime.fromtimestamp(ms // 1000, _dt.timezone.utc)
    return dt.strftime("%Y-%m-%dT%H:%M:%S.") + f"{ms % 1000:03d}Z"


class JInstant:
    """java.time.Instant subset (whitelisted in the reference's
    org.elasticsearch.script whitelist)."""

    __slots__ = ("ms",)

    def __init__(self, ms):
        self.ms = int(ms)

    def toEpochMilli(self):  # noqa: N802 — Java surface
        return self.ms

    def getEpochSecond(self):  # noqa: N802
        return self.ms // 1000

    def isAfter(self, other):  # noqa: N802
        return self.ms > other.ms

    def isBefore(self, other):  # noqa: N802
        return self.ms < other.ms

    def plusMillis(self, n):  # noqa: N802
        return JInstant(self.ms + n)

    def plusSeconds(self, n):  # noqa: N802
        return JInstant(self.ms + 1000 * n)

    def compareTo(self, other):  # noqa: N802
        return (self.ms > other.ms) - (self.ms < other.ms)

    def toString(self):  # noqa: N802
        return _iso_instant(self.ms)

    def __str__(self):
        return self.toString()

    def __eq__(self, other):
        return isinstance(other, JInstant) and other.ms == self.ms

    def __hash__(self):
        return hash(self.ms)

    def __lt__(self, other):
        return self.ms < other.ms

    def __le__(self, other):
        return self.ms <= other.ms


class JDateTime:
    """The date doc-value object — java.time.ZonedDateTime (UTC) subset,
    matching ScriptDocValues.Dates' element type
    (``server/src/main/java/org/elasticsearch/script/JodaCompatibleZonedDateTime``
    in older refs; plain ZonedDateTime from 7.x on). Also carries the
    joda-compat ``.millis`` property scripts still use."""

    __slots__ = ("dt",)

    def __init__(self, dt):
        import datetime as _dt

        if dt.tzinfo is None:
            dt = dt.replace(tzinfo=_dt.timezone.utc)
        self.dt = dt.astimezone(_dt.timezone.utc)

    # -- epoch accessors --
    @property
    def millis(self):
        return self.getMillis()

    def getMillis(self):  # noqa: N802
        # exact integer epoch millis (Instant.toEpochMilli floors the
        # sub-milli part; float timestamp() would mis-round pre-epoch dates)
        import datetime as _dt

        delta = self.dt - _dt.datetime(1970, 1, 1, tzinfo=_dt.timezone.utc)
        return delta // _dt.timedelta(microseconds=1000)

    def toInstant(self):  # noqa: N802
        return JInstant(self.getMillis())

    def toEpochSecond(self):  # noqa: N802
        return int(self.dt.timestamp())

    # -- calendar accessors --
    def getYear(self):  # noqa: N802
        return self.dt.year

    def getMonthValue(self):  # noqa: N802
        return self.dt.month

    def getMonth(self):  # noqa: N802
        return _JEnum(_MONTHS[self.dt.month - 1], self.dt.month)

    def getDayOfMonth(self):  # noqa: N802
        return self.dt.day

    def getDayOfYear(self):  # noqa: N802
        return self.dt.timetuple().tm_yday

    def getDayOfWeek(self):  # noqa: N802
        return _JEnum(_DOW[self.dt.weekday()], self.dt.weekday() + 1)

    def getDayOfWeekEnum(self):  # noqa: N802 — ES's JodaCompatible name
        return self.getDayOfWeek()

    def getHour(self):  # noqa: N802
        return self.dt.hour

    def getMinute(self):  # noqa: N802
        return self.dt.minute

    def getSecond(self):  # noqa: N802
        return self.dt.second

    def getNano(self):  # noqa: N802
        return self.dt.microsecond * 1000

    # -- arithmetic / comparison --
    def plusDays(self, n):  # noqa: N802
        import datetime as _dt

        return JDateTime(self.dt + _dt.timedelta(days=n))

    def plusHours(self, n):  # noqa: N802
        import datetime as _dt

        return JDateTime(self.dt + _dt.timedelta(hours=n))

    def minusDays(self, n):  # noqa: N802
        return self.plusDays(-n)

    def isAfter(self, other):  # noqa: N802
        return self.getMillis() > other.getMillis()

    def isBefore(self, other):  # noqa: N802
        return self.getMillis() < other.getMillis()

    def compareTo(self, other):  # noqa: N802
        a, b = self.getMillis(), other.getMillis()
        return (a > b) - (a < b)

    def toString(self):  # noqa: N802
        # ZonedDateTime.toString in UTC ("2015-01-01T12:10:30Z"); millis
        # kept when present
        return self.dt.isoformat().replace("+00:00", "Z")

    def __str__(self):
        return self.toString()

    def __eq__(self, other):
        return isinstance(other, JDateTime) and \
            other.getMillis() == self.getMillis()

    def __hash__(self):
        return hash(self.getMillis())

    def __lt__(self, other):
        return self.getMillis() < other.getMillis()

    def __le__(self, other):
        return self.getMillis() <= other.getMillis()


class JField:
    """The runtime-fields ``field('name')`` API
    (org.elasticsearch.script.field.Field — 65_runtime_doc_values.yml):
    iterable over the values, ``get(default)`` / ``get(i, default)``,
    ``asString(default)``, emptiness checks. ``$('name', default)`` is the
    shorthand for ``field('name').get(default)``."""

    __slots__ = ("vals",)

    def __init__(self, raw):
        self.vals = DocValues(raw).vals

    def get(self, *args):
        if len(args) == 2:
            i, dflt = args
            return self.vals[i] if i < len(self.vals) else dflt
        dflt = args[0] if args else None
        return self.vals[0] if self.vals else dflt

    def asString(self, *args):  # noqa: N802 — Java surface
        dflt = args[0] if args else None
        if not self.vals:
            return dflt
        return _jstr(self.vals[0])

    def isEmpty(self):  # noqa: N802
        return not self.vals

    def size(self):
        return len(self.vals)

    def getName(self):  # noqa: N802
        return None

    def __iter__(self):
        return iter(self.vals)

    def __len__(self):
        return len(self.vals)


class GeoPoint:
    """A geo_point doc value (``org.elasticsearch.common.geo.GeoPoint``):
    .lat/.lon properties plus the getter forms."""

    __slots__ = ("lat", "lon")

    def __init__(self, lat, lon):
        self.lat = float(lat)
        self.lon = float(lon)

    def getLat(self):  # noqa: N802 — Java surface
        return self.lat

    def getLon(self):  # noqa: N802
        return self.lon

    def toString(self):  # noqa: N802
        return f"[{self.lon}, {self.lat}]"

    def __str__(self):
        return self.toString()


class MapEntry:
    __slots__ = ("k", "v")

    def __init__(self, k, v):
        self.k = k
        self.v = v

    def getKey(self):  # noqa: N802
        return self.k

    def getValue(self):  # noqa: N802
        return self.v


class JException:
    """A Painless-visible exception value (caught or thrown in-script)."""

    __slots__ = ("msg", "jtype")

    def __init__(self, msg, jtype="Exception"):
        self.msg = msg
        self.jtype = jtype

    def getMessage(self):  # noqa: N802 — Java surface
        return self.msg

    def toString(self):  # noqa: N802
        return f"{self.jtype}: {self.msg}"


# Python-level errors escaping whitelisted methods, mapped to the Java
# exception type a Painless catch clause would see
_PY_TO_JEXC = {
    ZeroDivisionError: "ArithmeticException",
    IndexError: "IndexOutOfBoundsException",
    KeyError: "IllegalArgumentException",
    ValueError: "IllegalArgumentException",
    TypeError: "IllegalArgumentException",
    AttributeError: "IllegalArgumentException",
}


class JPattern:
    """A Painless regex literal — java.util.regex.Pattern surface (the
    whitelisted subset: matcher/split/splitAsStream/pattern)."""

    __slots__ = ("rx",)

    def __init__(self, rx):
        self.rx = rx

    def matcher(self, s):
        return JMatcher(self.rx, s)

    def pattern(self):
        return self.rx.pattern

    def split(self, s, limit=0):
        if limit == 1:
            return [s]
        if limit > 1:
            return self.rx.split(s, maxsplit=limit - 1)
        parts = self.rx.split(s)
        if limit == 0:
            while parts and parts[-1] == "":
                parts.pop()
        return parts

    def splitAsStream(self, s):  # noqa: N802 — Java surface
        return _Stream(self.split(s))

    def toString(self):  # noqa: N802
        return self.rx.pattern


class JMatcher:
    """java.util.regex.Matcher subset: find (iterative) / matches /
    group / start / end / replaceAll / replaceFirst."""

    __slots__ = ("rx", "s", "_pos", "_m")

    def __init__(self, rx, s):
        self.rx = rx
        self.s = s
        self._pos = 0
        self._m = None

    def find(self):
        self._m = self.rx.search(self.s, self._pos)
        if self._m is None:
            return False
        # zero-width matches must still advance (Java does the same)
        self._pos = self._m.end() + (self._m.start() == self._m.end())
        return True

    def matches(self):
        self._m = self.rx.fullmatch(self.s)
        return self._m is not None

    def group(self, i=0):
        if self._m is None:
            raise PainlessError("Matcher.group before a successful match")
        return self._m.group(i)

    def groupCount(self):  # noqa: N802
        return self.rx.groups

    def start(self):
        if self._m is None:
            raise PainlessError("Matcher.start before a successful match")
        return self._m.start()

    def end(self):
        if self._m is None:
            raise PainlessError("Matcher.end before a successful match")
        return self._m.end()

    def replaceAll(self, rep):  # noqa: N802
        return self.rx.sub(_jrepl(rep), self.s)

    def replaceFirst(self, rep):  # noqa: N802
        return self.rx.sub(_jrepl(rep), self.s, count=1)

    def reset(self):
        self._pos = 0
        self._m = None
        return self


class _Lambda:
    __slots__ = ("params", "body", "env", "interp")

    def __init__(self, params, body, env, interp):
        self.params = params
        self.body = body
        self.env = env
        self.interp = interp

    def __call__(self, *args):
        local = dict(self.env)
        for p, a in zip(self.params, args):
            local[p] = a
        try:
            self.interp.exec_stmt(self.body, local)
        except _Return as r:
            return r.value
        return None


class _Break(Exception):
    pass


class _Continue(Exception):
    pass


class _Return(Exception):
    def __init__(self, value):
        self.value = value


def _is_int(x):
    return isinstance(x, int) and not isinstance(x, bool)


def _jexc_type(e: PainlessError) -> str:
    s = str(e)
    if "by zero" in s:
        return "ArithmeticException"
    if "null pointer" in s:
        return "NullPointerException"
    return "Exception"


# ---- MovingFunctions (server/src/main/java/org/elasticsearch/search/
# aggregations/pipeline/MovingFunctions.java) — faithful ports: NaN inputs
# are skipped everywhere, empty/all-NaN windows yield NaN (sum yields 0.0),
# and the iteration-order-dependent models (ewma/holt/holtWinters) follow
# the Java loops exactly ----

def _mf_finite(values):
    return [float(v) for v in values if v == v]


def _mf_max(values):
    fin = _mf_finite(values)
    return max(fin) if fin else math.nan


def _mf_min(values):
    fin = _mf_finite(values)
    return min(fin) if fin else math.nan


def _mf_sum(values):
    if not len(values):
        return 0.0
    return float(sum(_mf_finite(values)))


def _mf_unweighted_avg(values):
    fin = _mf_finite(values)
    return sum(fin) / len(fin) if fin else math.nan


def _mf_std_dev(values, avg):
    if avg != avg:
        return math.nan
    fin = _mf_finite(values)
    if not fin:
        return math.nan
    return math.sqrt(sum((v - avg) ** 2 for v in fin) / len(fin))


def _mf_linear_weighted(values):
    avg, total_weight, current = 0.0, 1, 1
    for v in values:
        if v == v:
            avg += v * current
            total_weight += current
            current += 1
    return math.nan if total_weight == 1 else avg / total_weight


def _mf_ewma(values, alpha):
    avg, first = math.nan, True
    for v in values:
        if v == v:
            if first:
                avg, first = v, False
            else:
                avg = v * alpha + avg * (1 - alpha)
    return avg


def _mf_holt(values, alpha, beta):
    if not len(values):
        return math.nan
    s = last_s = b = last_b = 0.0
    counter = 0
    for v in values:
        if v == v:
            if counter == 0:
                s, b = v, 0.0  # v - last where last == v on the first point
            else:
                s = alpha * v + (1.0 - alpha) * (last_s + last_b)
                b = beta * (s - last_s) + (1 - beta) * last_b
            counter += 1
            last_s, last_b = s, b
    return math.nan if counter == 0 else s


def _mf_holt_winters(values, alpha, beta, gamma, period, multiplicative):
    if not len(values):
        return math.nan
    period = int(period)
    padding = 1e-10 if multiplicative else 0.0
    if len(values) < period * 2:
        raise PainlessError(
            f"Holt-Winters aggregation requires at least (2 * period == "
            f"{2 * period}) data-points to function.  Only [{len(values)}] "
            f"were provided.")
    # Java quirk kept: vs is a full-length array with NaN slots left 0.0
    # (new double[values.length] + counter-bounded fill), and the season
    # loops run over the FULL length
    vs = [0.0] * len(values)
    counter = 0
    for v in values:
        if v == v:
            vs[counter] = v + padding
            counter += 1
    if counter == 0:
        return math.nan
    seasonal = [0.0] * len(vs)
    s = b = 0.0
    for i in range(period):
        s += vs[i]
        b += (vs[i + period] - vs[i]) / period
    s /= period
    b /= period
    last_s, last_b = s, b
    if s != 0.0:
        for i in range(period):
            seasonal[i] = vs[i] / s
    for i in range(period, len(vs)):
        # _jdiv keeps Java's float /0.0 contract (±Infinity / NaN) — raw
        # Python division would raise where the JVM flows Infinity through
        if multiplicative:
            s = alpha * _jdiv(vs[i], float(seasonal[i - period])) \
                + (1.0 - alpha) * (last_s + last_b)
        else:
            s = alpha * (vs[i] - seasonal[i - period]) + (1.0 - alpha) * (last_s + last_b)
        b = beta * (s - last_s) + (1 - beta) * last_b
        if multiplicative:
            seasonal[i] = gamma * _jdiv(vs[i], float(last_s + last_b)) \
                + (1 - gamma) * seasonal[i - period]
        else:
            seasonal[i] = gamma * (vs[i] - (last_s - last_b)) + (1 - gamma) * seasonal[i - period]
        last_s, last_b = s, b
    idx = len(vs) - period
    if multiplicative:
        return (s + b) * seasonal[idx]
    return s + b + seasonal[idx]


# ---- score-context statics (ScoreScriptUtils — the score whitelist's
# imported_methods / class_bindings: saturation, sigmoid, decay*) ----

_TIME_UNIT_MS = {"d": 86_400_000, "h": 3_600_000, "m": 60_000, "s": 1000,
                 "ms": 1}
_DIST_UNIT_M = {"km": 1000.0, "m": 1.0, "mi": 1609.344, "nmi": 1852.0,
                "yd": 0.9144, "ft": 0.3048, "cm": 0.01, "mm": 0.001}


def _parse_time_ms(s) -> float:
    if isinstance(s, (int, float)):
        return float(s)
    s = str(s).strip().lower()
    for suf in ("ms", "d", "h", "m", "s"):
        if s.endswith(suf):
            return float(s[:-len(suf)]) * _TIME_UNIT_MS[suf]
    return float(s)


def _parse_dist_m(s) -> float:
    if isinstance(s, (int, float)):
        return float(s)
    s = str(s).strip().lower()
    for suf in ("nmi", "km", "mi", "yd", "ft", "cm", "mm", "m"):
        if s.endswith(suf):
            return float(s[:-len(suf)]) * _DIST_UNIT_M[suf]
    return float(s)


def _decay(kind: str, dist: float, scale: float, offset: float,
           decay: float) -> float:
    d = max(0.0, dist - offset)
    if kind == "gauss":
        sigma2 = -(scale ** 2) / (2.0 * math.log(decay))
        return math.exp(-(d ** 2) / (2.0 * sigma2))
    if kind == "exp":
        lam = math.log(decay) / scale
        return math.exp(lam * d)
    s = scale / (1.0 - decay)  # linear
    return max(0.0, (s - d) / s)


def _num_decay(kind):
    def fn(origin, scale, offset, decay, value):
        return _decay(kind, abs(float(value) - float(origin)),
                      float(scale), float(offset), float(decay))
    return fn


def _date_decay(kind):
    def fn(origin, scale, offset, decay, value):
        import datetime as _dt

        if isinstance(origin, str):
            o = _dt.datetime.fromisoformat(origin.replace("Z", "+00:00"))
            origin_ms = JDateTime(o).getMillis()
        else:
            origin_ms = _temporal_ms(origin)
        return _decay(kind, abs(_temporal_ms(value) - origin_ms),
                      _parse_time_ms(scale), _parse_time_ms(offset),
                      float(decay))
    return fn


def _geo_decay(kind):
    def fn(origin, scale, offset, decay, value):
        if isinstance(origin, str):
            lat, lon = origin.split(",", 1)
            origin = GeoPoint(float(lat), float(lon))
        # haversine meters (GeoUtils.EARTH_MEAN_RADIUS — same constant as
        # the geo_distance query/sort/agg surfaces)
        r = 6371008.8
        p1, p2 = math.radians(origin.lat), math.radians(value.lat)
        dp = p2 - p1
        dl = math.radians(value.lon - origin.lon)
        a = math.sin(dp / 2) ** 2 + math.cos(p1) * math.cos(p2) * math.sin(dl / 2) ** 2
        dist = 2 * r * math.asin(math.sqrt(a))
        return _decay(kind, dist, _parse_dist_m(scale), _parse_dist_m(offset),
                      float(decay))
    return fn


def _jpow(base, exp):
    """Java Math.pow: negative base with a non-integer exponent yields NaN
    (Python returns a complex number); 0**negative yields Infinity;
    overflowing magnitudes flow ±Infinity instead of raising."""
    base, exp = float(base), float(exp)
    try:
        r = base ** exp
    except ZeroDivisionError:
        return math.inf
    except OverflowError:
        # a negative base with a non-integer exponent is NaN at ANY
        # magnitude (Java Math.pow) — Python raises before producing the
        # complex value here
        if base < 0 and exp != int(exp):
            return math.nan
        # sign: negative only for a negative base raised to an odd integer
        if base < 0 and int(exp) % 2:
            return -math.inf
        return math.inf
    if isinstance(r, complex):
        return math.nan
    return r


def _score_sigmoid(v, k, a):
    va, ka = _jpow(v, a), _jpow(k, a)
    return _jdiv(va, va + ka)


_SCORE_BUILTINS = {
    "saturation": lambda v, k: _jdiv(float(v), float(v + k)),
    "sigmoid": _score_sigmoid,
    "decayNumericGauss": _num_decay("gauss"),
    "decayNumericExp": _num_decay("exp"),
    "decayNumericLinear": _num_decay("linear"),
    "decayDateGauss": _date_decay("gauss"),
    "decayDateExp": _date_decay("exp"),
    "decayDateLinear": _date_decay("linear"),
    "decayGeoGauss": _geo_decay("gauss"),
    "decayGeoExp": _geo_decay("exp"),
    "decayGeoLinear": _geo_decay("linear"),
}


def _temporal_ms(x) -> int:
    """Epoch millis from any temporal value (JInstant / JDateTime / long)."""
    if isinstance(x, JInstant):
        return x.ms
    if isinstance(x, JDateTime):
        return x.getMillis()
    if isinstance(x, (int, float)):
        return int(x)
    raise PainlessError(f"not a temporal value: {x!r}")


def _jstr(x):
    """Java toString rendering for string concatenation."""
    if x is None:
        return "null"
    if isinstance(x, bool):
        return "true" if x else "false"
    if isinstance(x, float):
        if x == int(x) and abs(x) < 1e15 and not math.isinf(x):
            return f"{x:.1f}"
        return repr(x)
    if isinstance(x, list):
        return "[" + ", ".join(_jstr(i) for i in x) + "]"
    if isinstance(x, dict):
        return "{" + ", ".join(f"{_jstr(k)}={_jstr(v)}" for k, v in x.items()) + "}"
    return str(x)


def _jdiv(a, b):
    if _is_int(a) and _is_int(b):
        if b == 0:
            raise PainlessError("/ by zero")
        q = abs(a) // abs(b)
        return q if (a >= 0) == (b >= 0) else -q
    # Java float division: x/0.0 = ±Infinity, 0.0/0.0 = NaN — never raises
    if b == 0:
        if a == 0:
            return math.nan
        return math.copysign(math.inf, float(a) * math.copysign(1.0, float(b)))
    return a / b


def _jmod(a, b):
    if _is_int(a) and _is_int(b):
        if b == 0:
            raise PainlessError("% by zero")
        return a - _jdiv(a, b) * b
    if b == 0:
        return math.nan  # Java: x % 0.0 = NaN
    return math.fmod(a, b)


# ---- whitelisted instance methods ----

def _java_split(s, rx, limit=0):
    """Java String.split semantics: limit>0 → at most `limit` parts
    (limit=1 = no split; Python maxsplit=0 means UNLIMITED, so it can't
    express that directly); limit=0 → unlimited + strip trailing empties;
    limit<0 → unlimited, keep trailing empties."""
    if limit == 1:
        return [s]
    if limit > 1:
        return re.split(rx, s, maxsplit=limit - 1)
    parts = re.split(rx, s)
    if limit == 0:
        while parts and parts[-1] == "":
            parts.pop()
    return parts


def _jrepl(rep: str) -> str:
    """Java Matcher replacement grammar → Python re.sub replacement:
    ``$N``/``${name}`` group refs become ``\\g<...>``, ``\\c`` is the
    literal c (so ``\\$`` survives as a dollar sign), everything else is
    literal. A bare trailing ``$`` stays literal instead of raising."""
    out, i, n = [], 0, len(rep)
    while i < n:
        c = rep[i]
        if c == "\\" and i + 1 < n:
            nxt = rep[i + 1]
            out.append("\\\\" if nxt == "\\" else nxt)
            i += 2
        elif c == "$":
            j = i + 1
            if j < n and rep[j] == "{":
                k = rep.find("}", j)
                if k > 0:
                    out.append(f"\\g<{rep[j + 1:k]}>")
                    i = k + 1
                    continue
            while j < n and rep[j].isdigit():
                j += 1
            if j > i + 1:
                out.append(f"\\g<{rep[i + 1:j]}>")
                i = j
            else:
                out.append("$")
                i += 1
        else:
            out.append(c)
            i += 1
    return "".join(out)


_STR_METHODS = {
    "length": lambda s: len(s),
    "isEmpty": lambda s: len(s) == 0,
    "substring": lambda s, a, b=None: s[a:b] if b is not None else s[a:],
    "contains": lambda s, t: t in s,
    "startsWith": lambda s, t: s.startswith(t),
    "endsWith": lambda s, t: s.endswith(t),
    "indexOf": lambda s, t, i=0: s.find(t, i),
    "lastIndexOf": lambda s, t: s.rfind(t),
    "toLowerCase": lambda s: s.lower(),
    "toUpperCase": lambda s: s.upper(),
    "trim": lambda s: s.strip(),
    "strip": lambda s: s.strip(),
    "replace": lambda s, a, b: s.replace(a, b),
    "replaceAll": lambda s, rx, rep: re.sub(rx, _jrepl(rep), s),
    "replaceFirst": lambda s, rx, rep: re.sub(rx, _jrepl(rep), s, count=1),
    "split": _java_split,
    "splitOnToken": lambda s, t: s.split(t),
    "charAt": lambda s, i: s[i],
    "equals": lambda s, t: s == t,
    "equalsIgnoreCase": lambda s, t: isinstance(t, str) and s.lower() == t.lower(),
    "compareTo": lambda s, t: (s > t) - (s < t),
    "matches": lambda s, rx: re.fullmatch(rx, s) is not None,
    "concat": lambda s, t: s + t,
    "toString": lambda s: s,
    "hashCode": lambda s: _java_string_hash(s),
    "repeat": lambda s, n: s * n,
    "chars": lambda s: [ord(c) for c in s],
    "toCharArray": lambda s: list(s),
    "join": lambda s, *parts: s.join(parts),
    "codePointAt": lambda s, i: ord(s[i]),
}


def _java_string_hash(s: str) -> int:
    h = 0
    for c in s:
        h = (h * 31 + ord(c)) & 0xFFFFFFFF
    return h - (1 << 32) if h >= (1 << 31) else h


def _list_remove(lst, x):
    # Java dispatch: remove(int index) vs remove(Object)
    if _is_int(x):
        return lst.pop(x)
    try:
        lst.remove(x)
        return True
    except ValueError:
        return False


def _list_add(lst, a, b=None):
    if b is None:
        lst.append(a)
        return True
    lst.insert(a, b)
    return None


def _py_sort(lst, cmp=None):
    if cmp is None:
        lst.sort()
    else:
        import functools

        lst.sort(key=functools.cmp_to_key(cmp))
    return None


_LIST_METHODS = {
    "add": _list_add,
    "addAll": lambda lst, other: (lst.extend(other), True)[1],
    "get": lambda lst, i: lst[i],
    "set": lambda lst, i, v: (lst.__setitem__(i, v), v)[1],
    "size": lambda lst: len(lst),
    "length": lambda lst: len(lst),
    "isEmpty": lambda lst: len(lst) == 0,
    "contains": lambda lst, x: x in lst,
    "indexOf": lambda lst, x: lst.index(x) if x in lst else -1,
    "lastIndexOf": lambda lst, x: (len(lst) - 1 - lst[::-1].index(x)) if x in lst else -1,
    "remove": _list_remove,
    "removeIf": lambda lst, pred: (lst.__setitem__(slice(None), [x for x in lst if not pred(x)]), None)[1],
    "clear": lambda lst: lst.clear(),
    "sort": _py_sort,
    "subList": lambda lst, a, b: lst[a:b],
    "toArray": lambda lst: list(lst),
    "iterator": lambda lst: iter(lst),
    "equals": lambda lst, o: lst == o,
    "toString": _jstr,
    "forEach": lambda lst, fn: ([fn(x) for x in lst], None)[1],
    "stream": lambda lst: _Stream(lst),
    "hashCode": lambda lst: 0,
    "max": lambda lst: max(lst),
    "min": lambda lst: min(lst),
}

_MAP_METHODS = {
    "put": lambda m, k, v: _map_put(m, k, v),
    "get": lambda m, k: m.get(k),
    "getOrDefault": lambda m, k, d: m.get(k, d),
    "containsKey": lambda m, k: k in m,
    "containsValue": lambda m, v: v in m.values(),
    "size": lambda m: len(m),
    "isEmpty": lambda m: len(m) == 0,
    "keySet": lambda m: list(m.keys()),
    "values": lambda m: list(m.values()),
    "entrySet": lambda m: [MapEntry(k, v) for k, v in m.items()],
    "remove": lambda m, k: m.pop(k, None),
    # Java contract: put only when absent-or-null, return the PREVIOUS value
    "putIfAbsent": lambda m, k, v: _map_put_if_absent(m, k, v),
    "putAll": lambda m, o: (m.update(o), None)[1],
    "clear": lambda m: m.clear(),
    "merge": lambda m, k, v, fn: _map_merge(m, k, v, fn),
    "compute": lambda m, k, fn: _map_compute(m, k, fn),
    "equals": lambda m, o: m == o,
    "toString": _jstr,
    "forEach": lambda m, fn: ([fn(k, v) for k, v in m.items()], None)[1],
}


def _map_put_if_absent(m, k, v):
    old = m.get(k)
    if old is None:
        m[k] = v
    return old


def _map_put(m, k, v):
    old = m.get(k)
    m[k] = v
    return old


def _map_merge(m, k, v, fn):
    if k in m and m[k] is not None:
        nv = fn(m[k], v)
        if nv is None:
            del m[k]
        else:
            m[k] = nv
        return nv
    m[k] = v
    return v


def _map_compute(m, k, fn):
    nv = fn(k, m.get(k))
    if nv is None:
        m.pop(k, None)
    else:
        m[k] = nv
    return nv


_NUM_METHODS = {
    "intValue": lambda x: math.trunc(x),
    "longValue": lambda x: math.trunc(x),
    "doubleValue": lambda x: float(x),
    "floatValue": lambda x: float(x),
    "byteValue": lambda x: math.trunc(x) & 0xFF,
    "shortValue": lambda x: math.trunc(x),
    "toString": _jstr,
    "equals": lambda x, o: x == o,
    "compareTo": lambda x, o: (x > o) - (x < o),
    "isNaN": lambda x: isinstance(x, float) and math.isnan(x),
    "hashCode": lambda x: int(x),
}


class _Stream:
    """Minimal java.util.stream over a list: map/filter/sum/count/collect
    (Collectors.toList analog via .toList)."""

    __slots__ = ("items",)

    def __init__(self, items):
        self.items = list(items)

    def map(self, fn):
        return _Stream([fn(x) for x in self.items])

    def filter(self, pred):
        return _Stream([x for x in self.items if pred(x)])

    def sum(self):
        return sum(self.items)

    def count(self):
        return len(self.items)

    def distinct(self):
        seen, out = set(), []
        for x in self.items:
            if x not in seen:
                seen.add(x)
                out.append(x)
        return _Stream(out)

    def sorted(self):
        return _Stream(sorted(self.items))

    def limit(self, n):
        return _Stream(self.items[:n])

    def toList(self):  # noqa: N802
        return list(self.items)

    def collect(self, *a):
        # honor the Collectors.* marker when one is passed; a bare
        # collect() (or an unrecognized collector) keeps the toList default
        if a and isinstance(a[0], tuple) and a[0][:1] == ("collector",):
            kind, args = a[0][1], a[0][2]
            if kind == "toSet":
                return _JSet(self.items)
            if kind == "joining":
                sep = args[0] if args else ""
                pre = args[1] if len(args) > 1 else ""
                post = args[2] if len(args) > 2 else ""
                return pre + sep.join(str(x) for x in self.items) + post
            if kind == "counting":
                return len(self.items)
            if kind == "toMap":
                return {args[0](x): args[1](x) for x in self.items}
        return list(self.items)

    def mapToDouble(self, fn):  # noqa: N802
        return _Stream([float(fn(x)) for x in self.items])

    def mapToInt(self, fn):  # noqa: N802
        return _Stream([int(fn(x)) for x in self.items])

    def anyMatch(self, pred):  # noqa: N802
        return any(pred(x) for x in self.items)

    def allMatch(self, pred):  # noqa: N802
        return all(pred(x) for x in self.items)


# ---- statics ----

_STATICS: dict[str, dict] = {
    "Math": {
        "max": max, "min": min, "abs": abs,
        "sqrt": lambda x: math.sqrt(x) if x >= 0 else math.nan,
        "cbrt": lambda x: math.copysign(abs(x) ** (1 / 3), x),
        # Java math never raises: out-of-domain inputs flow NaN
        "pow": lambda a, b: _jpow(a, b),
        "log": lambda x: math.log(x) if x > 0 else
            (-math.inf if x == 0 else math.nan),
        "log10": lambda x: math.log10(x) if x > 0 else
            (-math.inf if x == 0 else math.nan),
        "log1p": math.log1p, "exp": math.exp, "expm1": math.expm1,
        "floor": lambda x: float(math.floor(x)), "ceil": lambda x: float(math.ceil(x)),
        "round": lambda x: math.floor(x + 0.5), "rint": round,
        "sin": math.sin, "cos": math.cos, "tan": math.tan,
        "asin": math.asin, "acos": math.acos, "atan": math.atan,
        "atan2": math.atan2, "sinh": math.sinh, "cosh": math.cosh,
        "tanh": math.tanh, "hypot": math.hypot, "signum": lambda x: float((x > 0) - (x < 0)),
        "toRadians": math.radians, "toDegrees": math.degrees,
        "E": math.e, "PI": math.pi,
    },
    "Integer": {
        "parseInt": lambda s, base=10: int(s, base), "valueOf": int,
        "toString": _jstr, "MAX_VALUE": 2**31 - 1, "MIN_VALUE": -(2**31),
        "compare": lambda a, b: (a > b) - (a < b),
    },
    "Long": {
        "parseLong": lambda s, base=10: int(s, base), "valueOf": int,
        "toString": _jstr, "MAX_VALUE": 2**63 - 1, "MIN_VALUE": -(2**63),
        "compare": lambda a, b: (a > b) - (a < b),
    },
    "Double": {
        "parseDouble": float, "valueOf": float, "toString": _jstr,
        "isNaN": lambda x: isinstance(x, float) and math.isnan(x),
        "isInfinite": lambda x: isinstance(x, float) and math.isinf(x),
        "MAX_VALUE": 1.7976931348623157e308, "MIN_VALUE": 4.9e-324,
        "POSITIVE_INFINITY": math.inf, "NEGATIVE_INFINITY": -math.inf,
        "NaN": math.nan, "compare": lambda a, b: (a > b) - (a < b),
    },
    "Float": {"parseFloat": float, "valueOf": float, "MAX_VALUE": 3.4028235e38},
    "Boolean": {"parseBoolean": lambda s: s == "true", "valueOf": lambda s: s == "true",
                "TRUE": True, "FALSE": False},
    "String": {"valueOf": _jstr, "join": lambda sep, *xs: sep.join(_jstr(x) for x in (xs[0] if len(xs) == 1 and isinstance(xs[0], list) else xs)),
               "format": lambda fmt, *a: _jformat(fmt, a)},
    "Character": {"isDigit": lambda c: str(c).isdigit(), "isLetter": lambda c: str(c).isalpha(),
                  "isWhitespace": lambda c: str(c).isspace(),
                  "toLowerCase": lambda c: str(c).lower(), "toUpperCase": lambda c: str(c).upper()},
    "Collections": {
        "sort": _py_sort, "max": max, "min": min,
        "reverse": lambda lst: (lst.reverse(), None)[1],
        "shuffle": lambda lst, *a: None,  # deterministic engine: no-op
        "emptyList": lambda: [], "emptyMap": lambda: {},
        "unmodifiableList": lambda lst: lst, "unmodifiableMap": lambda m: m,
        "singletonList": lambda x: [x],
    },
    "Arrays": {"asList": lambda *xs: list(xs), "toString": _jstr,
               "stream": lambda xs: _Stream(xs)},
    "Objects": {"equals": lambda a, b: a == b, "isNull": lambda x: x is None,
                "nonNull": lambda x: x is not None,
                "requireNonNull": lambda x: x, "hashCode": lambda x: 0},
    # moving_fn script context (server/.../pipeline/MovingFunctions.java —
    # exact ports incl. the NaN-filtering and empty-window contracts)
    "MovingFunctions": {
        "max": lambda values: _mf_max(values),
        "min": lambda values: _mf_min(values),
        "sum": lambda values: _mf_sum(values),
        "unweightedAvg": lambda values: _mf_unweighted_avg(values),
        "stdDev": lambda values, avg: _mf_std_dev(values, avg),
        "linearWeightedAvg": lambda values: _mf_linear_weighted(values),
        "ewma": lambda values, alpha: _mf_ewma(values, alpha),
        "holt": lambda values, alpha, beta: _mf_holt(values, alpha, beta),
        "holtWinters": lambda values, alpha, beta, gamma, period, mult:
            _mf_holt_winters(values, alpha, beta, gamma, period, mult),
    },
    # java.time.format / java.util enums used by getDisplayName
    "TextStyle": {s: _JEnum(s, i) for i, s in enumerate(
        ["FULL", "FULL_STANDALONE", "SHORT", "SHORT_STANDALONE",
         "NARROW", "NARROW_STANDALONE"])},
    "Locale": {"ROOT": _JEnum("ROOT", 0), "ENGLISH": _JEnum("ENGLISH", 1),
               "US": _JEnum("US", 2)},
    # java.time statics (script whitelist: Instant.ofEpochMilli,
    # ChronoUnit.between over temporal doc values)
    "Instant": {
        "ofEpochMilli": lambda ms: JInstant(ms),
        "ofEpochSecond": lambda s: JInstant(int(s) * 1000),
        "EPOCH": JInstant(0),
    },
    "ChronoUnit": {
        unit: type("_ChronoUnit", (), {
            "between": staticmethod(
                lambda a, b, _ms=ms_per: (_temporal_ms(b) - _temporal_ms(a)) // _ms),
            "toString": staticmethod(lambda _u=unit: _u),
        })()
        for unit, ms_per in [("MILLIS", 1), ("SECONDS", 1000),
                             ("MINUTES", 60_000), ("HOURS", 3_600_000),
                             ("DAYS", 86_400_000)]
    },
    # java.util.stream.Collectors — markers consumed by _Stream.collect
    "Collectors": {
        "toList": lambda *a: ("collector", "toList", a),
        "toSet": lambda *a: ("collector", "toSet", a),
        "joining": lambda *a: ("collector", "joining", a),
        "counting": lambda *a: ("collector", "counting", a),
        "toMap": lambda *a: ("collector", "toMap", a),
    },
    # java.util.regex.Pattern statics (whitelist exposes compile/matches/quote)
    "Pattern": {
        "compile": lambda p, flags=0: JPattern(re.compile(p)),
        "matches": lambda p, s: re.fullmatch(p, s) is not None,
        "quote": lambda s: re.escape(s),
    },
}


def _jformat(fmt: str, args):
    """java String.format → printf subset (%s %d %f %.Nf %x). Python's %
    shares Java's %% escape — pre-substituting it would corrupt formats
    that mix %% with real conversions ('%d%%' must yield '5%'). A single
    list argument is the Object... ARRAY form (new def[] {...}) and
    spreads, Java's varargs-array rule."""
    if len(args) == 1 and isinstance(args[0], list):
        args = args[0]
    return fmt % tuple(args)


_CONSTRUCTORS = {
    "HashMap": lambda *a: dict(a[0]) if a else {},
    "LinkedHashMap": lambda *a: dict(a[0]) if a else {},
    "TreeMap": lambda *a: dict(a[0]) if a else {},
    "ArrayList": lambda *a: list(a[0]) if a else [],
    "LinkedList": lambda *a: list(a[0]) if a else [],
    "HashSet": lambda *a: _JSet(a[0]) if a else _JSet(),
    "LinkedHashSet": lambda *a: _JSet(a[0]) if a else _JSet(),
    "TreeSet": lambda *a: _JSet(a[0]) if a else _JSet(),
    "StringBuilder": lambda *a: _StringBuilder(a[0] if a else ""),
    "String": lambda *a: str(a[0]) if a else "",
    **{
        t: (lambda t: lambda *a: JException(a[0] if a else None, t))(t)
        for t in (
            "Exception", "RuntimeException", "IllegalArgumentException",
            "IllegalStateException", "ArithmeticException",
            "NullPointerException", "IndexOutOfBoundsException",
            "NumberFormatException", "UnsupportedOperationException",
        )
    },
}


class _JSet:
    __slots__ = ("s", "order")

    def __init__(self, init=()):
        self.s = set()
        self.order = []
        for x in init:
            self.add(x)

    def add(self, x):
        if x in self.s:
            return False
        self.s.add(x)
        self.order.append(x)
        return True

    def contains(self, x):
        return x in self.s

    def size(self):
        return len(self.s)

    def isEmpty(self):  # noqa: N802
        return not self.s

    def remove(self, x):
        if x in self.s:
            self.s.discard(x)
            self.order.remove(x)
            return True
        return False

    def addAll(self, other):  # noqa: N802
        for x in other:
            self.add(x)
        return True

    def toArray(self):  # noqa: N802
        return list(self.order)

    def __iter__(self):
        return iter(self.order)

    def __len__(self):
        return len(self.s)

    def __contains__(self, x):
        return x in self.s


class _StringBuilder:
    __slots__ = ("parts",)

    def __init__(self, init=""):
        self.parts = [init] if init else []

    def append(self, x):
        self.parts.append(_jstr(x))
        return self

    def toString(self):  # noqa: N802
        return "".join(self.parts)

    def length(self):
        return sum(len(p) for p in self.parts)


# --------------------------------------------------------------------------
# Interpreter
# --------------------------------------------------------------------------

_MAX_STEPS = 2_000_000  # runaway-loop bound per script execution


class _Interp:
    __slots__ = ("steps",)

    def __init__(self):
        self.steps = 0

    def _tick(self):
        self.steps += 1
        if self.steps > _MAX_STEPS:
            raise PainlessError("script exceeded max loop iterations")

    # ---- statements ----

    def exec_stmt(self, node, env):
        """Execute one statement; returns the value of the LAST expression
        statement (Painless's implicit return for expression scripts)."""
        kind = node[0]
        self._tick()
        if kind == "block":
            last = None
            for s in node[1]:
                last = self.exec_stmt(s, env)
            return last
        if kind == "expr":
            return self.eval(node[1], env)
        if kind == "decl":
            for name, init in node[1]:
                env[name] = self.eval(init, env) if init is not None else None
            return None
        if kind == "if":
            if self._truthy(self.eval(node[1], env)):
                return self.exec_stmt(node[2], env)
            if node[3] is not None:
                return self.exec_stmt(node[3], env)
            return None
        if kind == "while":
            while self._truthy(self.eval(node[1], env)):
                self._tick()
                try:
                    self.exec_stmt(node[2], env)
                except _Break:
                    break
                except _Continue:
                    continue
            return None
        if kind == "dowhile":
            while True:
                self._tick()
                try:
                    self.exec_stmt(node[1], env)
                except _Break:
                    break
                except _Continue:
                    pass
                if not self._truthy(self.eval(node[2], env)):
                    break
            return None
        if kind == "for":
            _, init, cond, update, body = node
            if init is not None:
                self.exec_stmt(init, env)
            while cond is None or self._truthy(self.eval(cond, env)):
                self._tick()
                try:
                    self.exec_stmt(body, env)
                except _Break:
                    break
                except _Continue:
                    pass
                if update is not None:
                    self.exec_stmt(update, env)
            return None
        if kind == "foreach":
            _, name, it_e, body = node
            it = self.eval(it_e, env)
            if it is None:
                return None
            if isinstance(it, dict):
                it = list(it.keys())
            for x in it:
                self._tick()
                env[name] = x
                try:
                    self.exec_stmt(body, env)
                except _Break:
                    break
                except _Continue:
                    continue
            return None
        if kind == "funcdef":
            _, name, params, body = node
            env[name] = _Lambda(params, body, env, self)
            return None
        if kind == "try":
            try:
                return self.exec_stmt(node[1], env)
            except (_Break, _Continue, _Return):
                raise
            except PainlessError as e:
                exc = getattr(e, "jexc", None) or JException(str(e), _jexc_type(e))
            except tuple(_PY_TO_JEXC) as e:
                exc = JException(str(e), _PY_TO_JEXC[type(e)])
            for etype, ename, blk in node[2]:
                # Exception / RuntimeException catch everything in the
                # whitelist hierarchy; a specific type catches itself only
                if etype in ("Exception", "RuntimeException") or etype == exc.jtype:
                    env[ename] = exc
                    return self.exec_stmt(blk, env)
            err = PainlessError(exc.toString())
            err.jexc = exc
            raise err
        if kind == "throw":
            v = self.eval(node[1], env)
            exc = v if isinstance(v, JException) else JException(_jstr(v))
            err = PainlessError(exc.toString())
            err.jexc = exc
            raise err
        if kind == "return":
            raise _Return(self.eval(node[1], env) if node[1] is not None else None)
        if kind == "break":
            raise _Break()
        if kind == "continue":
            raise _Continue()
        raise PainlessError(f"unknown statement {kind!r}")

    @staticmethod
    def _truthy(v):
        if v is None:
            return False
        return bool(v)

    # ---- expressions ----

    def eval(self, node, env):
        kind = node[0]
        self._tick()
        if kind == "lit":
            return node[1]
        if kind == "var":
            name = node[1]
            if name in env:
                return env[name]
            if name in _STATICS:
                return ("__static__", name)
            raise PainlessError(f"unknown variable {name!r}")
        if kind == "bin":
            return self._binop(node[1], node[2], node[3], env)
        if kind == "and":
            return self._truthy(self.eval(node[1], env)) and self._truthy(self.eval(node[2], env))
        if kind == "or":
            return self._truthy(self.eval(node[1], env)) or self._truthy(self.eval(node[2], env))
        if kind == "un":
            op, v = node[1], self.eval(node[2], env)
            if op == "!":
                return not self._truthy(v)
            if op == "-":
                return -v
            if op == "+":
                return v
            if op == "~":
                return ~v
        if kind == "ternary":
            return self.eval(node[2], env) if self._truthy(self.eval(node[1], env)) \
                else self.eval(node[3], env)
        if kind == "elvis":
            v = self.eval(node[1], env)
            return v if v is not None else self.eval(node[2], env)
        if kind == "assign":
            return self._assign(node[1], node[2], node[3], env)
        if kind == "incr":
            _, tgt, delta, prefix = node
            old = self.eval(tgt, env)
            new = old + delta
            self._store(tgt, new, env)
            return new if prefix else old
        if kind == "field":
            return self._field(node, env)
        if kind == "index":
            obj = self.eval(node[1], env)
            idx = self.eval(node[2], env)
            if obj is None:
                raise PainlessError("null pointer: index access on null")
            if isinstance(obj, (dict, DocMap)):
                return obj[idx] if not isinstance(obj, dict) else obj.get(idx)
            return obj[idx]
        if kind == "call":
            return self._call(node, env)
        if kind == "list":
            return [self.eval(e, env) for e in node[1]]
        if kind == "map":
            return {self.eval(k, env): self.eval(v, env) for k, v in node[1]}
        if kind == "new":
            _, tname, args = node
            ctor = _CONSTRUCTORS.get(tname)
            if ctor is None:
                raise PainlessError(f"unsupported constructor: new {tname}")
            return ctor(*[self.eval(a, env) for a in args])
        if kind == "newarr":
            n = self.eval(node[2], env)
            fill = 0 if node[1] in ("int", "long", "double", "float") else None
            return [fill] * n
        if kind == "cast":
            return self._cast(node[1], self.eval(node[2], env))
        if kind == "instanceof":
            v = self.eval(node[1], env)
            t = node[2]
            return {
                "String": isinstance(v, str),
                "Integer": _is_int(v), "Long": _is_int(v),
                "Double": isinstance(v, float), "Float": isinstance(v, float),
                "Number": isinstance(v, (int, float)) and not isinstance(v, bool),
                "Boolean": isinstance(v, bool),
                "List": isinstance(v, list), "ArrayList": isinstance(v, list),
                "Map": isinstance(v, dict), "HashMap": isinstance(v, dict),
            }.get(t, False)
        if kind == "lambda":
            return _Lambda(node[1], node[2], env, self)
        raise PainlessError(f"unknown expression {kind!r}")

    @staticmethod
    def _cast(tname, v):
        if v is None:
            return None
        if tname in ("int", "long", "short", "byte", "Integer", "Long"):
            return math.trunc(v) if isinstance(v, (int, float)) else int(v)
        if tname in ("double", "float", "Double", "Float"):
            return float(v)
        if tname in ("String", "CharSequence"):
            return _jstr(v)
        if tname in ("boolean", "Boolean"):
            return bool(v)
        # reference-type casts check the RAW (erased) type and throw like
        # Java's ClassCastException — `(List<String>) 5` must not pass
        # (generic arguments were erased at parse; DefCastTests-style
        # def-to-reference cast semantics)
        raw_checks = {
            "List": list, "ArrayList": list, "Collection": list,
            "Map": dict, "HashMap": dict,
            "Number": (int, float),
        }
        if tname.endswith("[]"):
            if not isinstance(v, list):
                raise PainlessError(
                    f"ClassCastException: cannot cast "
                    f"{type(v).__name__} to {tname}")
            return v
        want = raw_checks.get(tname)
        if want is not None and (not isinstance(v, want)
                                 or isinstance(v, bool)):
            raise PainlessError(
                f"ClassCastException: cannot cast "
                f"{type(v).__name__} to {tname}")
        return v

    def _binop(self, op, le, re_, env):
        a = self.eval(le, env)
        if op in ("=~", "==~"):
            # value =~ /re/ → Matcher.find(); value ==~ /re/ → matches()
            p = self.eval(re_, env)
            if not isinstance(p, JPattern):
                raise PainlessError(f"right operand of {op} must be a regex literal")
            if a is None:
                raise PainlessError(f"null operand in {op}")
            s = a if isinstance(a, str) else _jstr(a)
            return (p.rx.search(s) if op == "=~" else p.rx.fullmatch(s)) is not None
        if op in ("==", "!="):
            b = self.eval(re_, env)
            eq = a == b if type(a) is not bool and type(b) is not bool else a is b
            if isinstance(a, (int, float)) and isinstance(b, (int, float)) \
                    and not isinstance(a, bool) and not isinstance(b, bool):
                eq = a == b
            return eq if op == "==" else not eq
        b = self.eval(re_, env)
        if op == "+":
            if isinstance(a, str) or isinstance(b, str):
                return _jstr(a) + _jstr(b)
            if a is None or b is None:
                raise PainlessError("null operand in +")
            return a + b
        if a is None or b is None:
            raise PainlessError(f"null operand in {op}")
        if op == "-":
            return a - b
        if op == "*":
            return a * b
        if op == "/":
            return _jdiv(a, b)
        if op == "%":
            return _jmod(a, b)
        if op == "<":
            return a < b
        if op == ">":
            return a > b
        if op == "<=":
            return a <= b
        if op == ">=":
            return a >= b
        if op == "&":
            return a & b
        if op == "|":
            return a | b
        if op == "^":
            return a ^ b
        if op == "<<":
            return a << b
        if op == ">>":
            return a >> b
        raise PainlessError(f"unknown operator {op!r}")

    def _field(self, node, env):
        _, obj_e, name, nullsafe = node
        obj = self.eval(obj_e, env)
        if obj is None:
            if nullsafe:
                return None
            raise PainlessError(f"null pointer: .{name} on null")
        return self._get_member(obj, name)

    def _get_member(self, obj, name):
        if isinstance(obj, tuple) and len(obj) == 2 and obj[0] == "__static__":
            table = _STATICS[obj[1]]
            if name in table:
                return table[name]
            raise PainlessError(f"unknown static {obj[1]}.{name}")
        if isinstance(obj, DocValues):
            if name in ("value", "values", "empty", "length"):
                return getattr(obj, name)
        if isinstance(obj, MapEntry):
            if name == "key":
                return obj.k
            if name == "value":
                return obj.v
        if isinstance(obj, DocMap):
            return obj[name]  # doc.f sugar == doc['f'] (100_terms_agg.yml)
        if isinstance(obj, dict):
            return obj.get(name)  # painless map-style field sugar: m.k == m['k']
        if isinstance(obj, str) and name == "length":
            return len(obj)
        if isinstance(obj, list) and name == "length":
            return len(obj)
        if isinstance(obj, GeoPoint) and name in ("lat", "lon"):
            return getattr(obj, name)
        if isinstance(obj, _JEnum) and name in ("value", "name"):
            return getattr(obj, name)  # enum property sugar (.value/.name)
        if isinstance(obj, JDateTime):
            if name == "millis":
                return obj.getMillis()
            if name in ("dayOfWeekEnum", "dayOfWeek"):
                return obj.getDayOfWeek()
            if name == "monthValue":
                return obj.getMonthValue()
            if name == "year":
                return obj.getYear()
        raise PainlessError(f"unknown member .{name} on {type(obj).__name__}")

    def _assign(self, target, op, value_e, env):
        value = self.eval(value_e, env)
        if op != "=":
            old = self.eval(target, env)
            bop = op[0]
            if bop == "+":
                value = _jstr(old) + _jstr(value) \
                    if isinstance(old, str) or isinstance(value, str) else old + value
            elif bop == "-":
                value = old - value
            elif bop == "*":
                value = old * value
            elif bop == "/":
                value = _jdiv(old, value)
            elif bop == "%":
                value = _jmod(old, value)
        self._store(target, value, env)
        return value

    def _store(self, target, value, env):
        kind = target[0]
        if kind == "var":
            env[target[1]] = value
            return
        if kind == "index":
            obj = self.eval(target[1], env)
            idx = self.eval(target[2], env)
            if obj is None:
                raise PainlessError("null pointer: index store on null")
            obj[idx] = value
            return
        if kind == "field":
            obj = self.eval(target[1], env)
            if isinstance(obj, dict):
                obj[target[2]] = value
                return
            raise PainlessError(f"cannot assign field .{target[2]} on {type(obj).__name__}")
        raise PainlessError(f"invalid assignment target {kind!r}")

    def _call(self, node, env):
        _, recv_e, name, args_e, nullsafe = node
        if recv_e is None:
            # bare function: context-provided callables (emit) or a lambda
            # var, then the score-context statics (ScoreScriptUtils)
            fn = env.get(name) or _SCORE_BUILTINS.get(name)
            if callable(fn):
                return fn(*[self.eval(a, env) for a in args_e])
            raise PainlessError(f"unknown function {name!r}")
        recv = self.eval(recv_e, env)
        if recv is None:
            if nullsafe:
                return None
            raise PainlessError(f"null pointer: .{name}() on null")
        args = [self.eval(a, env) for a in args_e]
        return self._dispatch(recv, name, args)

    def _dispatch(self, recv, name, args):
        if isinstance(recv, tuple) and len(recv) == 2 and recv[0] == "__static__":
            table = _STATICS[recv[1]]
            if name in table:
                return table[name](*args)
            raise PainlessError(f"unknown static {recv[1]}.{name}")
        if isinstance(recv, str):
            m = _STR_METHODS.get(name)
            if m:
                return m(recv, *args)
        elif isinstance(recv, bool) or isinstance(recv, (int, float)):
            m = _NUM_METHODS.get(name)
            if m:
                return m(recv, *args)
        elif isinstance(recv, list):
            m = _LIST_METHODS.get(name)
            if m:
                return m(recv, *args)
        elif isinstance(recv, dict):
            m = _MAP_METHODS.get(name)
            if m:
                return m(recv, *args)
        elif isinstance(recv, DocValues):
            if name in ("size", "getLength"):
                return len(recv.vals)
            if name == "isEmpty":
                return not recv.vals
            if name == "getValue":
                return recv.value
            if name in ("getValues", "get"):
                return recv.vals if not args else recv.vals[args[0]]
            if name == "contains":
                return args[0] in recv.vals
            m = _LIST_METHODS.get(name)
            if m:
                return m(list(recv.vals), *args)
        elif isinstance(recv, (bytes, bytearray)):
            # binary doc values are BytesRef
            # (60_script_doc_values_binary.yml: .utf8ToString())
            if name == "utf8ToString":
                return bytes(recv).decode("utf-8")
            if name == "length":
                return len(recv)
        elif isinstance(recv, DocMap):
            if name == "containsKey":
                return recv.containsKey(*args)
            if name == "get":
                return recv.get(*args)
        elif isinstance(recv, MapEntry):
            if name == "getKey":
                return recv.k
            if name == "getValue":
                return recv.v
        else:
            meth = getattr(recv, name, None)
            if callable(meth):
                return meth(*args)
        meth = getattr(recv, name, None)
        if callable(meth):
            return meth(*args)
        raise PainlessError(
            f"unknown method .{name}({len(args)} args) on {type(recv).__name__}")


def execute(program, env: dict):
    """Run a compiled program; returns the explicit ``return`` value, else
    the last top-level expression statement's value (Painless's implicit
    return)."""
    doc = env.get("doc")
    if isinstance(doc, DocMap) and "field" not in env:
        # runtime-fields API (org.elasticsearch.script.field.Field):
        # field('f') + the $('f', default) shorthand, backed by the same row
        env["field"] = lambda name: JField(doc.row.get(name))
        env["$"] = lambda name, dflt: JField(doc.row.get(name)).get(dflt)
    interp = _Interp()
    try:
        return interp.exec_stmt(program, env)
    except _Return as r:
        return r.value


# --------------------------------------------------------------------------
# Dispatcher + Spark integration
# --------------------------------------------------------------------------

# Markers that can't appear in a Spark SQL expression (the legacy script
# path): multi-statement ';', painless keywords, doc-values access, ingest
# ctx, scripted_metric state, runtime-field emit, Java statics/ctors,
# null-safe access. Deliberately NOT matching bare 'if(' — Spark SQL has an
# if() function.
_PAINLESS_RE = re.compile(
    r";"
    r"|\bdef\s+\w"
    r"|\breturn\b"
    r"|\bfor\s*\("
    r"|\bwhile\s*\("
    r"|\bdoc\["
    r"|\bdoc\.\w"
    r"|\bctx[.\[]"
    r"|\bstate[.\[]"
    r"|\bemit\s*\("
    r"|\bfield\s*\('"
    r"|\$\s*\('"
    r"|\bnew\s+[A-Z]\w*\s*\("
    r"|\b(?:Math|Integer|Long|Double|Float|Boolean|Collections|Arrays|Collectors|Objects|Character|Pattern|MovingFunctions|Instant|ChronoUnit)\s*\."
    r"|\?\."
    r"|==?~"
)


# string literals must not trigger the markers: a SQL expression like
# replace(text, ';', ',') contains ';' only inside quotes and must stay on
# the JVM fast path
_STRING_LIT_RE = re.compile(r"'(?:[^'\\]|\\.)*'|\"(?:[^\"\\]|\\.)*\"")


def is_painless(src: str) -> bool:
    """Heuristic dispatcher: True → route to this interpreter; False → the
    legacy Spark-SQL-expression fast path (JVM-side, preferred when the
    script is a single SQL-expressible expression). Markers are scanned
    with string literals blanked so quoted text can't misroute."""
    return bool(_PAINLESS_RE.search(_STRING_LIT_RE.sub("''", src)))


def referenced_doc_fields(src: str) -> tuple[set[str], bool]:
    """AST walk for doc['literal'] references → (fields, saw_dynamic).
    saw_dynamic=True when doc is indexed/passed non-literally — caller must
    then ship every column."""
    prog = compile_painless(src)
    fields: set[str] = set()
    dynamic = False

    def walk(n):
        nonlocal dynamic
        if not isinstance(n, tuple):
            return
        if n[0] == "var" and n[1] == "doc":
            # bare `doc` reached outside a recognized subscript/call base:
            # the script aliases or passes the whole map (def d = doc) —
            # we can't know which fields it touches, ship every column
            dynamic = True
            return
        if n[0] == "index" and n[1] == ("var", "doc"):
            if n[2][0] == "lit":
                fields.add(n[2][1])
            else:
                dynamic = True
            walk(n[2])
            return
        if n[0] == "field" and n[1] == ("var", "doc"):
            fields.add(n[2])  # doc.f sugar
            return
        if n[0] == "call" and n[1] is None and n[2] in ("field", "$") and n[3]:
            # runtime-fields API: field('f') / $('f', default)
            if n[3][0][0] == "lit":
                fields.add(n[3][0][1])
            else:
                dynamic = True
            for a in n[3]:
                walk(a)
            return
        if n[0] == "call" and n[1] == ("var", "doc") and n[2] in ("get", "containsKey"):
            if n[3] and n[3][0][0] == "lit":
                fields.add(n[3][0][1])
            else:
                dynamic = True
            for a in n[3] or []:
                walk(a)
            return
        for child in n[1:]:
            if isinstance(child, tuple):
                walk(child)
            elif isinstance(child, list):
                for c in child:
                    if isinstance(c, tuple):
                        walk(c)
                    elif isinstance(c, (list, tuple)):
                        for cc in c:
                            if isinstance(cc, tuple):
                                walk(cc)
    walk(prog)
    return fields, dynamic


def _clean(v):
    """pandas/arrow cell → plain Python for the interpreter. Timestamps
    become JDateTime so ``doc['d'].value.getMillis()/.toInstant()/...``
    work like ScriptDocValues.Dates."""
    import datetime as _dt

    import numpy as np

    if v is None or v is pd.NaT:
        return None
    if isinstance(v, float) and math.isnan(v):
        return None
    if isinstance(v, pd.Timestamp):
        return JDateTime(v.to_pydatetime())
    if isinstance(v, np.datetime64):
        if np.isnat(v):
            return None
        ms = v.astype("datetime64[ms]").astype("int64")
        return JDateTime(_dt.datetime.fromtimestamp(ms / 1000.0,
                                                    _dt.timezone.utc))
    if isinstance(v, np.generic):
        return _clean(v.item())
    if isinstance(v, _dt.datetime):
        if v != v:  # NaTType subclasses datetime; NaT != NaT
            return None
        return JDateTime(v)
    if isinstance(v, _dt.date):
        return JDateTime(_dt.datetime(v.year, v.month, v.day))
    if isinstance(v, np.ndarray):
        return [_clean(x) for x in v.tolist()]
    if isinstance(v, list):
        return [_clean(x) for x in v]
    if isinstance(v, dict):
        return {k: _clean(x) for k, x in v.items()}
    return v


def _coerce(v, root: str):
    """Coerce an interpreter result to the declared Spark return type's
    Python analog so Arrow serialization never guesses."""
    if v is None:
        return None
    if root in ("string", "varchar"):
        return _jstr(v)
    if root in ("double", "float"):
        return float(v)
    if root in ("long", "int", "bigint", "integer", "short"):
        return math.trunc(v) if isinstance(v, (int, float)) else int(v)
    if root == "boolean":
        return bool(v)
    if root in ("timestamp", "timestamp_ntz", "date"):
        import datetime as _dt

        # inverse of _clean's JDateTime wrap: naive-UTC round-trips
        # byte-identical through the interpreter
        if isinstance(v, JDateTime):
            return v.dt.replace(tzinfo=None)
        if isinstance(v, JInstant):
            return _dt.datetime.fromtimestamp(v.ms / 1000.0,
                                              _dt.timezone.utc).replace(tzinfo=None)
        return v
    return v


def script_column(df, src: str, params: dict | None = None,
                  ret_type: str = "double", score_col=None,
                  runtime_emit: bool = False):
    """Compile a Painless script to a Spark Column via an Arrow-batched
    pandas UDF. Only the doc fields the script references are shipped
    (column pruning reaches the scan); ``score_col`` (a Column) binds
    ``_score``. ``df=None`` binds exactly the referenced literal fields
    (for sort/runtime contexts that hold no frame). ``runtime_emit=True``
    provides the runtime-field ``emit()`` collector — the first emitted
    value wins (multi-valued runtime fields are a documented subset)."""
    from pyspark.sql import functions as F
    from pyspark.sql.functions import pandas_udf

    fields, dynamic = referenced_doc_fields(src)
    if df is None:
        if dynamic:
            raise PainlessError(
                "dynamic doc[...] access needs a frame to bind columns")
        cols = sorted(fields)
    else:
        cols = [c for c in df.columns if dynamic or c in fields]
    prog_src = src
    params = dict(params or {})
    root = ret_type.split("<")[0].strip().lower()

    struct_cols = [F.col(f"`{c}`").alias(c) for c in cols]
    has_score = score_col is not None
    if has_score:
        struct_cols.append(score_col.cast("double").alias("__score__"))
    if not struct_cols:
        struct_cols = [F.lit(0).alias("__dummy__")]

    # type hint says Series, but a STRUCT input column arrives as a
    # pd.DataFrame (PySpark's documented struct-in-scalar-UDF behavior)
    @pandas_udf(ret_type)
    def _run(s: pd.Series) -> pd.Series:
        out = []
        names = [c for c in s.columns if c not in ("__score__", "__dummy__")]
        col_arrays = {c: s[c].to_numpy(dtype=object) for c in names}
        scores = s["__score__"].to_numpy() if has_score else None
        prog = compile_painless(prog_src)
        for i in range(len(s)):
            row = {c: _clean(col_arrays[c][i]) for c in names}
            env = {"params": params, "doc": DocMap(row)}
            if scores is not None:
                sc = scores[i]
                env["_score"] = None if sc != sc else float(sc)
            emitted: list = []
            if runtime_emit:
                env["emit"] = emitted.append
            try:
                v = execute(prog, env)
            except PainlessError as exc:
                # ES fails the whole search with script_exception — a
                # silently-null row would corrupt filters/fields instead
                raise PainlessError(
                    f"script_exception: {exc} (script={prog_src[:120]!r})"
                ) from exc
            if runtime_emit and emitted:
                v = emitted[0]
            out.append(_coerce(v, root))
        return pd.Series(out, dtype=object)

    return _run(F.struct(*struct_cols))
