"""Canonical prefix codes and their peek tables, shared by the entropy
codecs: VP8L (webp.py), JPEG (jpegio.py) and CCITT fax (ccitt.py).

A code list holds (symbol, code, length) triples; a code's bits are
sent MSB first, whatever the stream's bit order. A table holds one int
per peek value, packed as (symbol << 5) | length; 0 marks a prefix
that starts no code. A code longer than the root width goes through a
link: the root entry holds (offset << 5) | (root + width), a length
field above the root, and the next `width` bits index the
second-level table stored from index `offset` on (the zlib/libwebp
layout). Entries there hold the full code length. A reader whose root
covers its longest code (JPEG 16, CCITT 13 and 7) never meets a link.
"""

from __future__ import annotations

__all__ = ["canonical", "table"]


def canonical(lengths, complete: bool = True) -> list:
    """Code lengths (index = symbol, 0 = unused) -> the canonical
    (symbol, code, length) list in code order: shorter codes first,
    equal lengths in symbol order (DEFLATE, VP8L and T.81 C.2 assign
    codes alike). ValueError when the lengths oversubscribe the code
    space, or, with `complete`, leave part of it unused (the Kraft
    sum must be exactly 1). A one-symbol code holds no choice and is
    accepted at any length, with code 0. T.81 codes are never
    complete (the all-ones code is reserved), so JPEG passes
    complete=False."""
    codes = []
    code = prev = 0
    for l, s in sorted((l, s) for s, l in enumerate(lengths) if l):
        code <<= l - prev
        if code >> l:
            raise ValueError("oversubscribed prefix code")
        codes.append((s, code, l))
        code += 1
        prev = l
    if complete and len(codes) != 1 and code != 1 << prev:
        raise ValueError("incomplete prefix code")
    return codes


def table(codes, root: int, lsb_first: bool) -> list:
    """Code list -> flat peek table over a `root`-bit window (module
    docstring). Equal entries share one int object. MSB-first
    readers peek the next bits as an integer with the first bit
    highest (JPEG, CCITT); LSB-first readers take the first bit
    lowest (VP8L), so codes are bit-reversed here. ValueError when
    two codes overlap (the list is not prefix-free)."""
    tab = [0] * (1 << root)

    def place(base, width, c, l, entry):
        # every `width`-bit peek whose first l bits are code c
        if lsb_first:
            i = base + int(format(c, f"0{l}b")[::-1], 2)
            span = slice(i, base + (1 << width), 1 << l)
        else:
            i = base + (c << (width - l))
            span = slice(i, i + (1 << (width - l)))
        if any(tab[span]):
            raise ValueError("prefix codes overlap")
        tab[span] = [entry] * (1 << (width - l))

    links = {}  # root-bit prefix of a long code -> its subtable width
    for _, c, l in codes:
        if l > root:
            links[c >> (l - root)] = max(links.get(c >> (l - root), 0), l - root)
    for p, w in links.items():
        place(0, root, p, root, (len(tab) << 5) | (root + w))
        links[p] = (len(tab), w)
        tab += [0] * (1 << w)
    for s, c, l in codes:
        if l > root:
            off, w = links[c >> (l - root)]
            place(off, w, c & ((1 << (l - root)) - 1), l - root, (s << 5) | l)
        else:
            place(0, root, c, l, (s << 5) | l)
    return tab
