"""Render a PageSpec to an HTML string — the synthetic stand-in for a fetched page.

The engine's fetch stage materializes this inside a ``mapInPandas`` UDF (the
"network"), so no HTML is ever stored: a 10^10-URL web costs zero bytes at rest.
The grammar is deliberately regular (generated text uses a safe charset with no
markup characters) so ``htmlparse`` recovers the spec exactly — which is what
makes golden equality between the Spark engine and the pure-Python oracle
well-defined.
"""

from __future__ import annotations

from .webgen import PageSpec


def render_html(spec: PageSpec) -> str:
    parts: list[str] = ["<!DOCTYPE html>", "<html>", "<head>"]
    parts.append(f'<meta charset="{spec.meta["charset"]}">')
    parts.append(f"<title>{spec.title}</title>")
    for name in ("description", "keywords", "author", "robots", "viewport"):
        if spec.meta[name]:
            parts.append(f'<meta name="{name}" content="{spec.meta[name]}">')
    for prop in ("og_title", "og_description", "og_image", "og_url"):
        if spec.meta[prop]:
            og = "og:" + prop[3:]
            parts.append(f'<meta property="{og}" content="{spec.meta[prop]}">')
    parts.append("<style>body { color: black; }</style>")
    parts.append("</head>", )
    parts.append("<body>")
    parts.append(f"<script>var x = 'junk {spec.image_id}';</script>")

    for lvl in range(1, 7):
        for text in spec.headings.get(f"h{lvl}", []):
            parts.append(f"<h{lvl}>{text}</h{lvl}>")

    # first image carries the payload caption as alt text (the image+caption pair)
    parts.append(f'<img src="/img/{spec.image_id}.bin" alt="{spec.caption}">')
    for k in range(1, spec.n_images):
        parts.append(f'<img src="/img/extra{k}.png">')
    for k in range(spec.n_forms):
        parts.append(f'<form action="/f{k}"><input name="q"></form>')

    link_iter = iter(spec.raw_links)
    for i, para in enumerate(spec.paragraphs):
        parts.append(f"<p>{para}</p>")
        # interleave links between paragraphs (document order preserved)
        link = next(link_iter, None)
        if link is not None:
            parts.append(_render_link(link))
    for link in link_iter:  # remaining links after the last paragraph
        parts.append(_render_link(link))

    parts.append("<noscript>noscript junk text</noscript>")
    parts.append("</body>", )
    parts.append("</html>")
    return "\n".join(parts)


def _render_link(link) -> str:
    title = f' title="{link.title_attr}"' if link.title_attr else ""
    return f'<a href="{link.href}"{title}>{link.text}</a>'
