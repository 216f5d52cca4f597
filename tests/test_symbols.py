"""Symbol-chunker tests mirroring the reference's chunking tests
(ck-chunk/src/lib.rs:2179+ span canonicalization, test_chunk_rust,
test_rust_doc_comments_attached, Haskell merger tests, and the markdown
breadcrumbs fixture at ck-chunk/tests/fixtures/markdown_breadcrumbs.md).
No Spark needed — the chunker is a pure function."""

import textwrap
from pathlib import Path

from ck_spark.functions.symbols import chunk_code

FIXTURES = Path(__file__).parent / "fixtures"

PY_SRC = textwrap.dedent('''\
    """Module docstring."""
    import os

    @decorator
    def top_level(x):
        return x + 1

    class Calculator:
        """Docs."""

        def __init__(self):
            self.memory = 0.0

        def add(self, a, b):
            return a + b

    def main():
        c = Calculator()
''')

RUST_SRC = textwrap.dedent('''\
    pub struct Calculator {
        memory: f64,
    }

    impl Calculator {
        /// Creates a new calculator.
        pub fn new() -> Self {
            Calculator { memory: 0.0 }
        }

        pub fn add(&mut self, a: f64, b: f64) -> f64 {
            a + b
        }
    }

    fn main() {
        let calc = Calculator::new();
    }

    pub mod utils {
        pub fn helper() {}
    }
''')


def _by_type(chunks):
    out = {}
    for c in chunks:
        out.setdefault(c.chunk_type, []).append(c)
    return out


def _spans_are_byte_exact(chunks, src):
    data = src.encode("utf-8")
    for c in chunks:
        assert data[c.byte_start:c.byte_end].decode("utf-8") == c.text
        assert c.byte_end - c.byte_start == len(c.text.encode("utf-8"))
        assert 1 <= c.line_start <= c.line_end


def test_python_symbols_and_ancestry():
    chunks = chunk_code(PY_SRC, "python")
    _spans_are_byte_exact(chunks, PY_SRC)
    t = _by_type(chunks)
    fn_names = {c.name for c in t.get("function", [])}
    assert fn_names == {"top_level", "main"}
    assert {c.name for c in t.get("class", [])} == {"Calculator"}
    methods = {c.name: c for c in t.get("method", [])}
    assert set(methods) == {"__init__", "add"}
    assert methods["add"].breadcrumb == "Calculator::add"
    assert methods["add"].ancestry == ["Calculator", "add"]
    # decorator is part of the function chunk (leading trivia extension)
    top = next(c for c in t["function"] if c.name == "top_level")
    assert top.text.startswith("@decorator")
    # the class chunk covers its methods (reference emits both)
    cal = t["class"][0]
    assert cal.byte_start < methods["__init__"].byte_start
    assert cal.byte_end >= methods["add"].byte_end
    # module docstring/imports fall into a leading text gap chunk
    assert any(c.chunk_type == "text" and "import os" in c.text for c in chunks)


def test_python_nonblank_bytes_covered():
    """Gap filler invariant: every non-blank line is inside some chunk."""
    chunks = chunk_code(PY_SRC, "python")
    data = PY_SRC.encode("utf-8")
    covered = set()
    for c in chunks:
        covered.update(range(c.byte_start, c.byte_end))
    pos = 0
    for line in PY_SRC.split("\n"):
        b = line.encode("utf-8")
        if line.strip():
            assert all(p in covered for p in range(pos, pos + len(b))), line
        pos += len(b) + 1
    assert len(data) >= max(covered, default=0)


def test_rust_kinds_match_reference_tables():
    """test_chunk_rust parity: struct->class, impl/mod->module,
    top fn->function, fn inside impl->method."""
    chunks = chunk_code(RUST_SRC, "rust")
    _spans_are_byte_exact(chunks, RUST_SRC)
    t = _by_type(chunks)
    assert {c.name for c in t.get("class", [])} == {"Calculator"}
    assert {c.name for c in t.get("module", [])} == {"Calculator", "utils"}  # impl + mod
    assert {c.name for c in t.get("method", [])} == {"new", "add", "helper"}
    assert {c.name for c in t.get("function", [])} == {"main"}
    # doc comment attached to the method (test_rust_doc_comments_attached)
    new = next(c for c in t["method"] if c.name == "new")
    assert "/// Creates a new calculator." in new.text
    assert new.breadcrumb == "Calculator::new"


def test_javascript_methods_and_arrows():
    src = textwrap.dedent('''\
        // helper
        const square = (x) => x * x;

        export class Point {
          constructor(x, y) {
            this.x = x;
          }

          dist(o) {
            return Math.hypot(this.x - o.x);
          }
        }

        function main() {
          return new Point(1, 2);
        }
    ''')
    chunks = chunk_code(src, "javascript")
    _spans_are_byte_exact(chunks, src)
    t = _by_type(chunks)
    assert {c.name for c in t.get("function", [])} == {"square", "main"}
    assert {c.name for c in t.get("class", [])} == {"Point"}
    assert {c.name for c in t.get("method", [])} == {"constructor", "dist"}
    sq = next(c for c in t["function"] if c.name == "square")
    assert sq.text.startswith("// helper")


def test_go_functions_methods_types():
    src = textwrap.dedent('''\
        package main

        type Point struct {
            X, Y float64
        }

        func (p *Point) Dist(o Point) float64 {
            return 0
        }

        func Add(a, b int) int {
            return a + b
        }
    ''')
    chunks = chunk_code(src, "go")
    _spans_are_byte_exact(chunks, src)
    t = _by_type(chunks)
    assert {c.name for c in t.get("class", [])} == {"Point"}
    assert {c.name for c in t.get("method", [])} == {"Dist"}
    assert {c.name for c in t.get("function", [])} == {"Add"}
    assert any(c.chunk_type == "text" and "package main" in c.text for c in chunks)


def test_haskell_equation_merging():
    """C7: signature + all equations of one function merge into ONE chunk
    (merge_haskell_functions)."""
    src = textwrap.dedent('''\
        factorial :: Integer -> Integer
        factorial 0 = 1
        factorial n = n * factorial (n - 1)

        data Color = Red | Green | Blue

        double :: Int -> Int
        double x = 2 * x
    ''')
    chunks = chunk_code(src, "haskell")
    _spans_are_byte_exact(chunks, src)
    t = _by_type(chunks)
    fns = {c.name: c for c in t.get("function", [])}
    assert set(fns) == {"factorial", "double"}
    fact = fns["factorial"]
    assert "factorial :: Integer" in fact.text
    assert "factorial n = n * factorial" in fact.text  # merged equations
    assert {c.name for c in t.get("module", [])} == {"Color"}


def test_markdown_sections_fixture():
    """Nested heading ancestry over tests/fixtures/markdown_breadcrumbs.md
    (Project Overview › Usage › Installation, after the reference's
    fixture of the same name)."""
    with open(FIXTURES / "markdown_breadcrumbs.md", encoding="utf-8") as f:
        src = f.read()
    chunks = chunk_code(src, "markdown")
    _spans_are_byte_exact(chunks, src)
    # heading sections exist and the nested one carries its ancestry —
    # sections may later be merged by the small-chunk merger, so check the
    # pre-merge semantic: some chunk contains the Installation heading
    assert any("### Installation" in c.text for c in chunks)
    inst = [c for c in chunks if c.name == "Installation"]
    if inst:  # present unless the small-chunk merger absorbed it
        assert inst[0].ancestry[:-1] == ["Project Overview", "Usage"]


def test_striding_oversized_chunk():
    body = "\n".join(f"    x{i} = {i}  # padding line {i}" for i in range(400))
    src = f"def big():\n{body}\n"
    chunks = chunk_code(src, "python", max_tokens=300, stride_overlap=60)
    strided = [c for c in chunks if c.stride_index is not None]
    assert len(strided) >= 2
    total = strided[0].total_strides
    assert all(c.total_strides == total for c in strided)
    assert [c.stride_index for c in strided[: total]] == list(range(total))
    # strides cover the original span and overlap
    assert strided[0].byte_start < strided[1].byte_start < strided[0].byte_end
    assert all(c.estimated_tokens <= 300 for c in strided)
    _spans_are_byte_exact(chunks, src)


def test_generic_fallback_unknown_lang():
    src = "just some prose.\nwith two lines.\n"
    got = chunk_code(src, "en")
    assert len(got) == 1 and got[0].chunk_type == "text"
    # and symbol-free "code" also falls back
    got2 = chunk_code("x = 1\ny = 2\n", "python")
    assert all(c.chunk_type == "text" for c in got2)


def test_empty_and_crlf():
    assert chunk_code("", "python") == []
    src = "def f():\r\n    return 1\r\n\r\ndef g():\r\n    return 2\r\n"
    chunks = chunk_code(src, "python")
    _spans_are_byte_exact(chunks, src)
    assert {c.name for c in chunks if c.chunk_type == "function"} == {"f", "g"}


def test_lang_from_path_matches_reference_table():
    """X3: mirrors test_language_from_path / case-insensitivity tests
    (ck-core/src/lib.rs:1175-1228)."""
    from ck_spark.functions.lang import lang_from_path

    assert lang_from_path("test.rs") == "rust"
    assert lang_from_path("test.py") == "python"
    assert lang_from_path("test.js") == "javascript"
    assert lang_from_path("test.hs") == "haskell"
    assert lang_from_path("test.lhs") == "haskell"
    assert lang_from_path("test.go") == "go"
    assert lang_from_path("test.unknown") is None
    assert lang_from_path("noext") is None
    # case-insensitive
    assert lang_from_path("MAIN.RS") == "rust"
    assert lang_from_path("app.PY") == "python"
    assert lang_from_path("Component.TSX") == "typescript"
    # headers assume C++; dotfiles have no extension
    assert lang_from_path("inc/util.h") == "cpp"
    assert lang_from_path(".gitignore") is None
    assert lang_from_path(None) is None


def test_lang_from_path_col_agrees(spark):
    from pyspark.sql import functions as F

    from ck_spark.functions.lang import lang_from_path, lang_from_path_col

    paths = ["a/b/test.rs", "MAIN.RS", "x.tar.gz", "noext", ".bashrc",
             "deep/dir/app.PY", "t.cpp", "u.c++", "v.mdx", "w.unknown"]
    df = spark.createDataFrame([(p,) for p in paths], "path string")
    got = {r["path"]: r["lang"] for r in
           df.select("path", lang_from_path_col(F.col("path")).alias("lang")).collect()}
    for p in paths:
        assert got[p] == lang_from_path(p), p


def test_braceless_arrow_does_not_swallow_file():
    src = "const f = x => x * x\n\nfunction g() {\n  return f(2)\n}\n"
    ch = chunk_code(src, "javascript")
    f = next(c for c in ch if c.name == "f")
    g = next(c for c in ch if c.name == "g")
    assert f.line_end == 1          # declaration ends at the blank line
    assert g.line_start == 3        # g is its own chunk, not inside f


def test_multiline_signature_with_blank_line():
    """A blank line INSIDE an open param list must not terminate the
    declaration (the brace-less-decl guard only applies outside open
    parens) — review regression."""
    src = (
        "pub fn foo(\n"
        "    a: u32,\n"
        "\n"
        "    b: u32,\n"
        ") -> u32 {\n"
        "    a + b\n"
        "}\n"
    )
    ch = chunk_code(src, "rust")
    foo = next(c for c in ch if c.name == "foo")
    assert foo.line_start == 1 and foo.line_end == 7
    assert foo.text.rstrip().endswith("}")


def test_ruby_blocks():
    src = textwrap.dedent('''\
        # frozen_string_literal: true

        module Util
          class Calc
            def add(a, b)
              a + b
            end

            def self.version
              "1.0"
            end
          end
        end

        def standalone
          42
        end
    ''')
    chunks = chunk_code(src, "ruby")
    _spans_are_byte_exact(chunks, src)
    t = _by_type(chunks)
    assert {c.name for c in t.get("module", [])} == {"Util"}
    assert {c.name for c in t.get("class", [])} == {"Calc"}
    assert {c.name for c in t.get("method", [])} == {"add", "version"}
    assert {c.name for c in t.get("function", [])} == {"standalone"}
    add = next(c for c in t["method"] if c.name == "add")
    assert add.breadcrumb == "Util::Calc::add"
    assert add.text.rstrip().endswith("end")


def test_java_class_and_methods():
    src = textwrap.dedent('''\
        // header
        public class Account {
            private double balance;

            public Account(double b) {
                balance = b;
            }

            public double getBalance() {
                return balance;
            }
        }
    ''')
    chunks = chunk_code(src, "java")
    _spans_are_byte_exact(chunks, src)
    t = _by_type(chunks)
    assert {c.name for c in t.get("class", [])} == {"Account"}
    assert {c.name for c in t.get("method", [])} >= {"Account", "getBalance"}
    gb = next(c for c in t["method"] if c.name == "getBalance")
    assert gb.breadcrumb == "Account::getBalance"


def test_c_functions_and_structs():
    src = textwrap.dedent('''\
        #include <stdio.h>

        struct point {
            int x;
            int y;
        };

        static int add(int a, int b) {
            return a + b;
        }

        int main(void)
        {
            return add(1, 2);
        }
    ''')
    chunks = chunk_code(src, "c")
    _spans_are_byte_exact(chunks, src)
    t = _by_type(chunks)
    assert {c.name for c in t.get("class", [])} == {"point"}
    assert {c.name for c in t.get("function", [])} == {"add", "main"}
    main = next(c for c in t["function"] if c.name == "main")
    assert main.text.rstrip().endswith("}")  # brace on its own line handled


def test_cpp_namespace_class_methods():
    src = textwrap.dedent('''\
        namespace geo {

        class Circle {
        public:
            double area() {
                return 3.14 * r * r;
            }
        private:
            double r;
        };

        }  // namespace geo
    ''')
    chunks = chunk_code(src, "cpp")
    _spans_are_byte_exact(chunks, src)
    t = _by_type(chunks)
    assert {c.name for c in t.get("module", [])} == {"geo"}
    assert {c.name for c in t.get("class", [])} == {"Circle"}


def test_zig_dart_elixir():
    zig = textwrap.dedent('''\
        const Calculator = struct {
            memory: f64,
        };

        pub fn add(a: f64, b: f64) f64 {
            return a + b;
        }

        test "addition works" {
            try expect(add(1, 2) == 3);
        }
    ''')
    t = _by_type(chunk_code(zig, "zig"))
    assert {c.name for c in t.get("class", [])} == {"Calculator"}
    assert {c.name for c in t.get("function", [])} == {"add"}
    assert {c.name for c in t.get("module", [])} == {"addition works"}

    dart = textwrap.dedent('''\
        class Point {
          double x = 0;

          double dist(Point o) {
            return 0;
          }
        }

        int add(int a, int b) {
          return a + b;
        }
    ''')
    t = _by_type(chunk_code(dart, "dart"))
    assert {c.name for c in t.get("class", [])} == {"Point"}
    assert "add" in {c.name for c in t.get("function", [])}

    elixir = textwrap.dedent('''\
        defmodule Math do
          @doc "adds"
          def add(a, b) do
            a + b
          end

          defp helper(x), do: x * 2

          defmacro squared(n) do
            quote do: unquote(n) * unquote(n)
          end
        end

        def orphan(x) do
          x
        end
    ''')
    chunks = chunk_code(elixir, "elixir")
    _spans_are_byte_exact(chunks, elixir)
    t = _by_type(chunks)
    assert {c.name for c in t.get("module", [])} == {"Math"}
    fns = {c.name for c in t.get("function", [])}
    assert {"add", "helper", "orphan"} <= fns
    assert {c.name for c in t.get("method", [])} == {"squared"}
    add = next(c for c in t["function"] if c.name == "add")
    assert add.breadcrumb == "Math::add"
    assert "@doc" in add.text  # module-attribute trivia attached
    helper = next(c for c in t["function"] if c.name == "helper")
    assert helper.line_start == helper.line_end  # do: one-liner


def test_merge_small_overlapping_parent_keeps_tail():
    """ADVICE r2: a markdown parent section grouped with its own nested
    subsection must not truncate the parent's tail when the group boundary
    falls mid-parent — the merged span end is max(byte_end), not the last
    member's end."""
    from ck_spark.functions.symbols import SymbolChunk, _merge_small

    data = b"0123456789" * 10  # 100 bytes

    def mk(s, e, tok):
        return SymbolChunk(
            chunk_id=-1, byte_start=s, byte_end=e, line_start=1, line_end=1,
            text=data[s:e].decode(), estimated_tokens=tok, chunk_type="section",
        )

    parent = mk(0, 100, 30)     # spans the whole doc
    child = mk(10, 40, 10)      # nested subsection, ends before parent
    big = mk(40, 100, 10_000)   # oversized sibling forces a flush
    out = _merge_small([parent, child, big], data, target_tokens=50)
    merged = out[0]
    assert merged.byte_end == 100          # parent tail retained
    assert merged.text == data[0:100].decode()
    assert merged.line_end == 1


# ---- grammar-exact python detection (stdlib ast) ---------------------------


def test_python_ast_no_string_false_positives():
    """`def` inside a triple-quoted string is NOT a symbol — the ast
    detector is grammar-exact where the indentation scan would
    false-positive."""
    src = (
        "DOC = '''\n"
        "def not_a_function(x):\n"
        "    pass\n"
        "'''\n"
        "def real(x):\n"
        "    return x\n"
    )
    names = [c.name for c in chunk_code(src, "python") if c.chunk_type == "function"]
    assert names == ["real"]


def test_python_ast_multiline_signature_full_span():
    """A multi-line def signature used to break the indentation scan at
    the dedented `):' line; the ast extent covers the whole body."""
    src = (
        "def f(\n"
        "    x,\n"
        "    y,\n"
        "):\n"
        "    a = x + y\n"
        "    return a\n"
        "\n"
        "def g():\n"
        "    return 2\n"
    )
    chunks = {c.name: c for c in chunk_code(src, "python")
              if c.chunk_type == "function"}
    assert set(chunks) == {"f", "g"}
    f = chunks["f"]
    text = src.encode()[f.byte_start:f.byte_end].decode()
    assert "return a" in text  # body fully inside the chunk
    assert f.line_end >= 5


def test_python_ast_method_kind_through_if():
    """A def nested under `if` directly inside a class body is still a
    method (parent kind flows through non-def/class AST nodes)."""
    src = (
        "class C:\n"
        "    if True:\n"
        "        def m(self):\n"
        "            return 1\n"
        "    async def n(self):\n"
        "        return 2\n"
    )
    kinds = {c.name: c.chunk_type for c in chunk_code(src, "python")
             if c.name in ("m", "n")}
    assert kinds == {"m": "method", "n": "method"}


def test_python_ast_syntax_error_falls_back():
    """python2-only syntax doesn't parse; the indentation detector still
    finds the symbols (graceful degradation, never zero chunks)."""
    src = (
        "def f(x):\n"
        "    print x\n"   # py2: SyntaxError under ast.parse
        "    return x\n"
    )
    names = [c.name for c in chunk_code(src, "python")
             if c.chunk_type == "function"]
    assert names == ["f"]


def test_python_ast_trailing_comment_stays_attached():
    """Extent = max(ast end, indentation end): a deeper-indented trailing
    comment inside the block remains part of the chunk (established
    trivia semantics)."""
    src = (
        "def f():\n"
        "    return 1\n"
        "    # trailing note\n"
        "\n"
        "x = 1\n"
    )
    f = [c for c in chunk_code(src, "python") if c.name == "f"][0]
    assert "trailing note" in src.encode()[f.byte_start:f.byte_end].decode()
