"""PDF document model: xref (classic + stream) → object index → page tree.

Reimplements the object-graph layer the reference delegates to pikepdf
(/root/reference/pdf_parser/api.py:43, core/replacer.py:101), from the
public spec:

- classic xref tables + trailer chain (/Prev) — ISO 32000-1 §7.5.4
- cross-reference streams (/Type /XRef, /W, /Index) — §7.5.8
- object streams (/ObjStm, /N, /First) — §7.5.7
- page-tree walk with inherited attributes (/Resources, /MediaBox) —
  §7.7.3.4; the reference's inherited-/Contents walk is
  /root/reference/pdf_gui.py:1515-1521.
- whole-document recovery scan (the qpdf-style reconstruction real
  crawl PDFs routinely need): when the xref chain is missing or
  unusable, re-index every ``N G obj`` header in the buffer (newest
  occurrence wins, like an incremental chain), merge any ``trailer``
  dicts newest-first, fall back to /Type /XRef stream dicts and a
  /Type /Catalog scan for /Root, and register /ObjStm members.
  Surfaced as ``recovered=True`` so the audit table can count it.
"""

from __future__ import annotations

import re

from .crypt import StandardDecryptor, UnsupportedEncryption
from .filters import decode_stream
from .lexer import Name, PdfLexer, Ref, Stream, parse_indirect_object

INHERITABLE = ("Resources", "MediaBox", "CropBox", "Rotate")


class PdfError(ValueError):
    pass


def header_offset(data: bytes) -> int:
    """Offset of the ``%PDF-`` header that starts a line within the
    first 1024 bytes, else -1. §7.5.2 makes the header a line, so a BOM,
    leading whitespace or a junk banner line may precede it; a mid-line
    mention (an HTML page quoting the magic, a banner that names it) is
    not a header."""
    i = data.find(b"%PDF-", 0, 1024)
    while i >= 0:
        if (
            i == 0
            or data[i - 1] in b"\r\n"
            or not data[:i].removeprefix(b"\xef\xbb\xbf").strip()
        ):
            return i
        i = data.find(b"%PDF-", i + 1, 1024)
    return -1


class PdfDocument:
    """Random-access object graph over a PDF byte buffer."""

    def __init__(self, data: bytes):
        # the line-start header, else (lenient) the first mention in
        # 1 KiB, e.g. junk glued to the header on its own line
        idx = header_offset(data)
        if idx < 0:
            idx = data.find(b"%PDF-", 0, 1024)
            if idx < 0:
                raise PdfError("not a PDF: missing %PDF- header")
        self.data = data[idx:]
        self.trailer: dict = {}
        # obj num -> ("file", offset) | ("objstm", container_num, index)
        self._index: dict[int, tuple] = {}
        # obj num -> generation (0 for objstm members; newest xref wins)
        self._gens: dict[int, int] = {}
        self._cache: dict[int, object] = {}
        self._objstm_cache: dict[int, list] = {}
        self._objstm_loading: set[int] = set()
        # RC4 standard-security support (crypt.py): decryptor is set when
        # the empty user password verifies; encryption_error is set when
        # an /Encrypt dict exists but is outside the supported subset
        # (AES, real password, malformed) — callers surface it as the
        # typed 'encrypted' audit row instead of decoding garbage.
        self.decryptor: StandardDecryptor | None = None
        self.encryption_error: str | None = None
        self._encrypt_obj_num: int | None = None
        #: True when the xref chain was unusable and the object index
        #: was rebuilt by the whole-document recovery scan
        self.recovered: bool = False
        try:
            self._load_xref()
        except Exception:
            self._reconstruct()
        self._setup_encryption()
        # Root usability must be judged AFTER encryption setup: in an
        # encrypted xref-stream document the catalog can live inside an
        # encrypted /ObjStm, so resolving it needs the decryptor. Skip
        # when the handler is unsupported (encryption_error set) — a
        # recovery scan can't read encrypted containers either, and the
        # typed "encrypted" audit row is the right outcome.
        # (A second _reconstruct for an already-recovered doc is the
        # broken-xref + encrypted + ObjStm corner: the first pass ran
        # without a decryptor, so encrypted /ObjStm members could not
        # be registered; with the decryptor up they can.)
        if self.encryption_error is None and not self._root_usable():
            self._reconstruct()
            self._setup_encryption()

    # ------------------------------------------------------------------ xref

    def _find_startxref(self) -> int:
        tail = self.data[-2048:]
        idx = tail.rfind(b"startxref")
        if idx == -1:
            raise PdfError("missing startxref")
        lex = PdfLexer(tail, idx + len(b"startxref"))
        lex._skip_ws()
        return int(lex._read_token())

    def _load_xref(self) -> None:
        offset = self._find_startxref()
        seen = set()
        while offset is not None and offset not in seen:
            seen.add(offset)
            lex = PdfLexer(self.data, offset)
            lex._skip_ws()
            if self.data[lex.pos : lex.pos + 4] == b"xref":
                trailer = self._load_classic_xref(lex)
            else:
                trailer = self._load_xref_stream(offset)
            for k, v in trailer.items():
                self.trailer.setdefault(k, v)
            prev = trailer.get("Prev")
            # hybrid files: /XRefStm points at an xref stream shadowing the table
            xrefstm = trailer.get("XRefStm")
            if isinstance(xrefstm, int) and xrefstm not in seen:
                seen.add(xrefstm)
                st = self._load_xref_stream(xrefstm)
                for k, v in st.items():
                    self.trailer.setdefault(k, v)
            offset = int(prev) if isinstance(prev, (int, float)) else None

    def _load_classic_xref(self, lex: PdfLexer) -> dict:
        lex.pos += 4  # skip 'xref'
        while True:
            lex._skip_ws()
            if self.data[lex.pos : lex.pos + 7] == b"trailer":
                lex.pos += 7
                trailer = lex.parse_object()
                if not isinstance(trailer, dict):
                    raise PdfError("bad trailer")
                return trailer
            start = int(lex._read_token())
            lex._skip_ws()
            count = int(lex._read_token())
            lex._skip_ws()
            for i in range(count):
                entry = self.data[lex.pos : lex.pos + 20]
                off = int(entry[0:10])
                typ = entry[17:18]
                num = start + i
                if typ == b"n" and num not in self._index:
                    self._index[num] = ("file", off)
                    try:
                        self._gens[num] = int(entry[11:16])
                    except ValueError:
                        self._gens[num] = 0
                # advance: entries are 20 bytes but be tolerant of 19/20
                lex.pos += 20
                if entry[18:20] not in (b"\r\n", b" \n", b" \r"):
                    # re-sync to next line
                    nl = self.data.find(b"\n", lex.pos - 20)
                    lex.pos = nl + 1 if nl != -1 else lex.pos

    def _load_xref_stream(self, offset: int) -> dict:
        num, gen, obj = parse_indirect_object(self.data, offset)
        if not isinstance(obj, Stream):
            raise PdfError("xref stream expected at startxref offset")
        sd = obj.dict
        data = decode_stream(obj.raw, sd, resolve=None)
        w = [int(x) for x in sd["W"]]
        size = int(sd["Size"])
        index = sd.get("Index", [0, size])
        entry_len = sum(w)
        pos = 0
        pairs = list(zip(index[0::2], index[1::2]))
        for start, count in pairs:
            for i in range(int(count)):
                fields = []
                for width in w:
                    if width == 0:
                        fields.append(1 if len(fields) == 0 else 0)
                    else:
                        fields.append(
                            int.from_bytes(data[pos : pos + width], "big")
                        )
                        pos += width
                onum = int(start) + i
                ftype = fields[0]
                if onum in self._index:
                    continue
                if ftype == 1:
                    self._index[onum] = ("file", fields[1])
                    # third field of a type-1 entry is the generation
                    self._gens[onum] = fields[2] if len(fields) > 2 else 0
                elif ftype == 2:
                    # objstm members always have generation 0 (§7.5.7)
                    self._index[onum] = ("objstm", fields[1], fields[2])
                    self._gens[onum] = 0
                # type 0 = free
        return dict(sd)

    # ------------------------------------------------------- recovery scan

    def _root_usable(self) -> bool:
        """True when the loaded xref chain yields a resolvable /Root
        catalog dict — the minimum for any extraction to proceed."""
        try:
            root = self.resolve(self.trailer.get("Root"))
        except Exception:
            return False
        return isinstance(root, dict)

    _OBJ_HEADER_RE = re.compile(rb"(?<![0-9])(\d{1,10})[ \t\r\n]+(\d{1,5})[ \t\r\n]+obj\b")

    def _reconstruct(self) -> None:
        """Whole-document recovery (what qpdf does when the xref chain
        is broken): forget the xref entirely and re-index every
        ``N G obj`` header in the buffer. The LAST occurrence of an
        object number wins — later in the file means newer, exactly the
        precedence an incremental-update chain encodes. /Root (and
        /Encrypt, /ID, /Info) come from any ``trailer`` dicts merged
        newest-first, then from /Type /XRef stream dicts, and finally —
        for xref-stream documents whose trailer never made it to disk —
        from a scan for the /Type /Catalog object. Members of object
        streams are indexed through the recovered /ObjStm containers.
        """
        self.recovered = True
        self._index.clear()
        self._gens.clear()
        self._cache.clear()
        self._objstm_cache.clear()
        self.trailer = {}
        data = self.data
        covered = 0
        for m in self._OBJ_HEADER_RE.finditer(data):
            if m.start() < covered:
                # header-shaped text INSIDE a previous object's extent
                # (e.g. "5 0 obj" in a content-stream literal) — not a
                # real object boundary
                continue
            num, gen = int(m.group(1)), int(m.group(2))
            try:
                lex = PdfLexer(data, m.start())
                lex._skip_ws()
                lex._read_token()
                lex._skip_ws()
                lex._read_token()
                lex._skip_ws()
                lex._read_token()  # 'obj'
                lex.parse_object()
                covered = lex.pos
            except Exception:
                pass  # still index it; get_object's fallback copes
            # newest (last) wins: overwrite unconditionally
            self._index[num] = ("file", m.start())
            self._gens[num] = gen
        if not self._index:
            raise PdfError("recovery scan found no objects")
        # trailer dicts, newest (latest offset) first
        t_end = len(data)
        while True:
            idx = data.rfind(b"trailer", 0, t_end)
            if idx == -1:
                break
            t_end = idx
            try:
                t = PdfLexer(data, idx + len(b"trailer")).parse_object()
            except Exception:
                continue
            if isinstance(t, dict):
                for k, v in t.items():
                    self.trailer.setdefault(k, v)
        # xref-stream documents: trailer fields live in /Type /XRef
        # stream dicts; catalog scan recovers /Root when even those are
        # gone. Parse shallowly and tolerate per-object failures.
        if "Root" not in self.trailer:
            for num in sorted(self._index, reverse=True):
                try:
                    _, _, obj = parse_indirect_object(
                        data, self._index[num][1]
                    )
                except Exception:
                    continue
                d = obj.dict if isinstance(obj, Stream) else obj
                if not isinstance(d, dict):
                    continue
                typ = d.get("Type")
                if str(typ) == "XRef":
                    for k, v in d.items():
                        if k in ("Root", "Encrypt", "Info", "ID"):
                            self.trailer.setdefault(k, v)
                    if "Root" in self.trailer:
                        break
                elif str(typ) == "Catalog":
                    self.trailer.setdefault("Root", Ref(num, 0))
                    break
        # register /ObjStm members for numbers the file-level scan
        # didn't see (their headers live inside compressed containers)
        containers = []
        for num in list(self._index):
            loc = self._index[num]
            try:
                _, _, obj = parse_indirect_object(data, loc[1])
            except Exception:
                continue
            if isinstance(obj, Stream) and str(obj.dict.get("Type")) == "ObjStm":
                containers.append(num)
        for cnum in containers:
            try:
                st = self.get_object(cnum)
                payload = decode_stream(st.raw, st.dict, resolve=self.resolve)
                n = int(self.resolve(st.dict["N"]))
                head = PdfLexer(payload)
                for i in range(n):
                    head._skip_ws()
                    onum = int(head._read_token())
                    head._skip_ws()
                    head._read_token()  # member offset (unused here)
                    if onum not in self._index:
                        self._index[onum] = ("objstm", cnum, i)
                        self._gens[onum] = 0
            except Exception:
                continue
        if not self._root_usable():
            raise PdfError("recovery scan found no /Root catalog")

    # ------------------------------------------------------------ encryption

    def _setup_encryption(self) -> None:
        """Install the RC4 decryptor when /Encrypt names the standard
        security handler and the EMPTY user password verifies (ISO
        32000-1 §7.6.3 Algorithms 2/6) — the common crawl case. Any
        other encryption records a typed error instead."""
        enc = self.trailer.get("Encrypt")
        if enc is None:
            return
        if isinstance(enc, Ref):
            self._encrypt_obj_num = enc.num
            enc = self.get_object(enc.num)
        if not isinstance(enc, dict):
            self.encryption_error = "malformed /Encrypt"
            return
        ids = self.trailer.get("ID")
        if isinstance(ids, Ref):
            ids = self.get_object(ids.num)
        id0 = (
            ids[0]
            if isinstance(ids, list) and ids and isinstance(ids[0], bytes)
            else b""
        )
        try:
            self.decryptor = StandardDecryptor(
                {str(k): self.resolve(v) for k, v in enc.items()}, id0
            )
        except UnsupportedEncryption as exc:
            self.encryption_error = str(exc)
        except (ValueError, TypeError) as exc:
            self.encryption_error = f"malformed /Encrypt: {exc}"
        # objects cached before the decryptor existed hold ciphertext
        self._cache.clear()
        self._objstm_cache.clear()

    def _decrypt_value(self, val, num: int, gen: int):
        if isinstance(val, bytes):
            return self.decryptor.decrypt(val, num, gen)
        if isinstance(val, list):
            return [self._decrypt_value(v, num, gen) for v in val]
        if isinstance(val, dict):
            return {k: self._decrypt_value(v, num, gen) for k, v in val.items()}
        return val

    def _decrypt_object(self, obj, num: int, gen: int):
        """Per-object decryption (§7.6.2 Algorithm 1): strings and
        stream data, keyed by (num, gen). Cross-reference streams are
        never encrypted (§7.5.8.2); object-stream MEMBERS are covered
        by their container's stream decryption, so this is only applied
        to file-located objects."""
        if isinstance(obj, Stream):
            if str(self.resolve(obj.dict.get("Type")) or "") == "XRef":
                return obj
            # /EncryptMetadata false → the XMP metadata stream is stored
            # in plaintext (§7.6.2 note); running AES/RC4 over it would
            # turn valid XML into garbage.  The dict's /Type is a Name
            # (never encrypted), so it is safe to inspect here.
            if (
                not getattr(self.decryptor, "encrypt_metadata", True)
                and str(self.resolve(obj.dict.get("Type")) or "") == "Metadata"
            ):
                return obj
            newdict = self._decrypt_value(obj.dict, num, gen)
            return Stream(newdict, self.decryptor.decrypt(obj.raw, num, gen))
        return self._decrypt_value(obj, num, gen)

    # --------------------------------------------------------------- objects

    def resolve(self, obj):
        """Resolve indirect references (recursively for one level).

        Cycle-guarded: a crawled corpus will eventually contain a PDF
        whose object body is itself a reference forming a cycle
        (``4 0 obj 4 0 R endobj``); the naive while-loop spins forever
        and stalls an executor core. The common 0/1-hop path pays no
        tracking cost; chains only start a seen-set from hop two."""
        if not isinstance(obj, Ref):
            return obj
        first = obj.num
        obj = self.get_object(first)
        if not isinstance(obj, Ref):
            return obj
        seen = {first}
        while isinstance(obj, Ref):
            if obj.num in seen:
                raise PdfError(f"reference cycle at object {obj.num}")
            seen.add(obj.num)
            obj = self.get_object(obj.num)
        return obj

    def get_object(self, num: int):
        if num in self._cache:
            return self._cache[num]
        loc = self._index.get(num)
        if loc is None:
            return None
        if loc[0] == "file":
            onum, gen, obj = parse_indirect_object(self.data, loc[1])
            if onum != num:
                # broken offset: scan for the object header as a fallback
                obj = self._scan_for_object(num)
        else:
            obj = self._get_from_objstm(loc[1], loc[2])
        # a Stream whose /Length was indirect needs re-slicing
        if isinstance(obj, Stream):
            length = obj.dict.get("Length")
            if isinstance(length, Ref):
                obj.dict["Length"] = self.resolve(length)
        if (
            self.decryptor is not None
            and loc[0] == "file"
            and num != self._encrypt_obj_num
        ):
            obj = self._decrypt_object(obj, num, self._gens.get(num, 0))
        self._cache[num] = obj
        return obj

    def _scan_for_object(self, num: int):
        needle = f"{num} 0 obj".encode()
        idx = self.data.find(needle)
        if idx == -1:
            raise PdfError(f"object {num} not found")
        _, _, obj = parse_indirect_object(self.data, idx)
        return obj

    def _get_from_objstm(self, container: int, index: int):
        objs = self._objstm_cache.get(container)
        if objs is None:
            # a malformed xref can claim the container is itself stored
            # compressed (possibly through a chain of containers);
            # loading would recurse through get_object forever
            loading = self._objstm_loading
            if container in loading:
                raise PdfError(
                    f"object stream {container} contains itself"
                )
            loading.add(container)
            try:
                st = self.get_object(container)
            finally:
                loading.discard(container)
            if not isinstance(st, Stream):
                raise PdfError(f"object stream {container} missing")
            data = decode_stream(st.raw, st.dict, resolve=self.resolve)
            n = int(self.resolve(st.dict["N"]))
            first = int(self.resolve(st.dict["First"]))
            head = PdfLexer(data[:first])
            pairs = []
            for _ in range(n):
                head._skip_ws()
                onum = int(head._read_token())
                head._skip_ws()
                off = int(head._read_token())
                pairs.append((onum, off))
            objs = []
            for onum, off in pairs:
                lex = PdfLexer(data, first + off)
                objs.append((onum, lex.parse_object()))
            self._objstm_cache[container] = objs
        return objs[index][1]

    def stream_bytes(self, obj) -> bytes:
        """Fully-decoded bytes of a stream object (resolving refs)."""
        obj = self.resolve(obj)
        if not isinstance(obj, Stream):
            raise PdfError("not a stream")
        length = obj.dict.get("Length")
        if isinstance(length, Ref):
            obj.dict["Length"] = self.resolve(length)
        return decode_stream(obj.raw, obj.dict, resolve=self.resolve)

    # ------------------------------------------------------------- page tree

    def catalog(self) -> dict:
        root = self.resolve(self.trailer.get("Root"))
        if not isinstance(root, dict):
            raise PdfError("missing /Root catalog")
        return root

    def pages(self) -> list[dict]:
        """Flattened page list with inherited attributes materialized."""
        cat = self.catalog()
        root = self.resolve(cat.get("Pages"))
        if not isinstance(root, dict):
            raise PdfError("missing /Pages root")
        out: list[dict] = []
        # Visit budget alongside the depth guard: depth alone does not
        # bound the walk — a Pages node whose /Kids lists the same
        # child twice, chained 40 deep, is 2^40 VISITS from 40 objects
        # (verified: hangs without this). Real trees visit ~2x their
        # page count.
        budget = [1_000_000]

        def walk(node: dict, inherited: dict, depth: int = 0) -> None:
            if depth > 64:
                raise PdfError("page tree too deep")
            budget[0] -= 1
            if budget[0] < 0:
                raise PdfError("page tree too large")
            inh = dict(inherited)
            for key in INHERITABLE:
                if key in node:
                    inh[key] = node[key]
            ntype = str(self.resolve(node.get("Type")) or "")
            kids = node.get("Kids")
            if ntype == "Pages" or (kids is not None and ntype != "Page"):
                for kid in self.resolve(kids) or []:
                    kobj = self.resolve(kid)
                    if isinstance(kobj, dict):
                        walk(kobj, inh, depth + 1)
            else:
                page = dict(node)
                for key, val in inh.items():
                    page.setdefault(key, val)
                out.append(page)

        walk(root, {})
        return out

    def page_object_refs(self) -> list[int | None]:
        """Object numbers of the page nodes, in the same order as
        :meth:`pages` (same traversal). None for a page reached as a
        direct (non-Ref) kid — rare, and not incrementally updatable."""
        cat = self.catalog()
        out: list[int | None] = []
        budget = [1_000_000]  # same shared-kid explosion guard as pages()

        def walk(ref_or_obj, depth: int = 0) -> None:
            if depth > 64:
                raise PdfError("page tree too deep")
            budget[0] -= 1
            if budget[0] < 0:
                raise PdfError("page tree too large")
            obj = self.resolve(ref_or_obj)
            if not isinstance(obj, dict):
                return
            ntype = str(self.resolve(obj.get("Type")) or "")
            kids = obj.get("Kids")
            if ntype == "Pages" or (kids is not None and ntype != "Page"):
                for kid in self.resolve(kids) or []:
                    walk(kid, depth + 1)
            else:
                out.append(ref_or_obj.num if isinstance(ref_or_obj, Ref) else None)

        walk(cat.get("Pages"))
        return out

    def max_object_number(self) -> int:
        return max(self._index, default=0)

    def object_generation(self, num: int) -> int:
        """Generation number the newest xref section records for *num*
        (0 when unknown — e.g. located via the junk-offset scan)."""
        return self._gens.get(num, 0)

    def page_content_bytes(self, page: dict) -> bytes:
        """Concatenated decoded /Contents — mirrors the reference's array
        concat (/root/reference/pdf_parser/api.py:74-87) plus the GUI's
        inherited-contents fallback (/root/reference/pdf_gui.py:1515-1521)."""
        contents = self.resolve(page.get("Contents"))
        if contents is None:
            return b""
        if isinstance(contents, list):
            # total-size cap: an array can reference the SAME stream
            # many times (700 KB of refs x a 1 MB stream = 100 GB
            # concat) — same shared-object amplification class as the
            # page-tree visit budget. 256 MiB matches the filter cap.
            cap = 256 * 1024 * 1024
            total = 0
            parts = []
            for item in contents:
                item = self.resolve(item)
                if isinstance(item, Stream):
                    data = self.stream_bytes(item)
                    total += len(data)
                    if total > cap:
                        raise PdfError("contents array too large")
                    parts.append(data)
            return b"".join(parts)
        if isinstance(contents, Stream):
            return self.stream_bytes(contents)
        return b""

    def page_fonts(self, page: dict) -> dict[str, dict]:
        """Map of font resource name ('/F1') → resolved font dict."""
        res = self.resolve(page.get("Resources"))
        if not isinstance(res, dict):
            return {}
        fonts = self.resolve(res.get("Font"))
        if not isinstance(fonts, dict):
            return {}
        out = {}
        for name, ref in fonts.items():
            fd = self.resolve(ref)
            if isinstance(fd, dict):
                out["/" + str(name)] = fd
        return out

    def page_font_refs(self, page: dict) -> dict[str, Ref | None]:
        """'/F1' → the Ref of that font object in /Resources /Font
        (None when the font dict is inlined directly — such a font
        cannot be overridden by an incremental update)."""
        res = self.resolve(page.get("Resources"))
        if not isinstance(res, dict):
            return {}
        fonts = self.resolve(res.get("Font"))
        if not isinstance(fonts, dict):
            return {}
        return {
            "/" + str(n): (r if isinstance(r, Ref) else None)
            for n, r in fonts.items()
        }
