"""Interactive-graph HTML rendering — the pyvis adapter (SURVEY.md §2.9).

The reference renders each recommendation neighborhood with pyvis
(``recommender/recommender_knn.py:82-159`` builds a ``Network`` of user
dots and rating-colored book boxes; ``streamlit_app.py:99-108`` writes it
to a temp HTML file and embeds it). pyvis is itself a thin generator of
vis-network HTML, so the equivalent here is: a served page already holds
its graph rows (``get_graph_data``'s dicts, one user's neighbourhood),
``viz_records`` / ``viz_records_knn`` build the node and edge sets from
them in Python, as the reference builds its ``Network`` from the records,
and this module serializes them to a standalone vis-network page with no
Spark job.

vis-network is loaded from its public CDN at the same major version the
reference vendors (vis-9.1.2); the page is otherwise self-contained.
"""

from __future__ import annotations

import html as _html
import json


def _script_json(obj) -> str:
    """JSON safe to inline inside a <script> element: '</' is escaped so
    data-controlled text (book titles) can never terminate the script tag
    and inject markup; U+2028/29 break JS string literals pre-ES2019."""
    return (
        json.dumps(obj)
        .replace("</", "<\\/")
        .replace(" ", "\\u2028")
        .replace(" ", "\\u2029")
    )

_VIS_CDN = "https://unpkg.com/vis-network@9.1.2/standalone/umd/vis-network.min.js"

_TEMPLATE = """<!DOCTYPE html>
<html>
<head>
<meta charset="utf-8"/>
<title>{title}</title>
<script src="{cdn}"></script>
<style>
  #graph {{ width: 100%; height: {height}; border: 1px solid #ddd; }}
  body {{ font-family: sans-serif; margin: 1em; }}
</style>
</head>
<body>
<h3>{title}</h3>
<div id="graph"></div>
<script>
  const nodes = new vis.DataSet({nodes_json});
  const edges = new vis.DataSet({edges_json});
  // barnes_hut physics like the reference's net.barnes_hut()
  const options = {{
    physics: {{ solver: "barnesHut", stabilization: {{ iterations: 200 }} }},
    edges: {{ scaling: {{ min: 1, max: 10 }} }},
  }};
  new vis.Network(document.getElementById("graph"), {{nodes, edges}}, options);
</script>
</body>
</html>
"""


def _rating_color(rating) -> str:
    """P8, the reference's rating buckets (recommender_community.py:101):
    red to 4, yellow to 7, else green, so a NULL rating is green."""
    if rating is not None and rating <= 4:
        return "red"
    if rating is not None and rating <= 7:
        return "yellow"
    return "green"


def _distinct(rows) -> list[dict]:
    return list({tuple(r.items()): r for r in rows}.values())


def viz_records(graph_rows: list[dict]) -> tuple[list[dict], list[dict]]:
    """Rating rows (userId, isbn, title, rating) given as dicts to pyvis
    nodes and edges: users as dots, books as rating-coloured boxes (one
    per distinct colour), one edge a row with the rating as thickness."""
    nodes = _distinct(
        [{"id": f"user_{r['userId']}", "label": f"User {r['userId']}",
          "shape": "dot", "color": None} for r in graph_rows]
        + [{"id": r["isbn"], "label": r["title"], "shape": "box",
            "color": _rating_color(r["rating"])} for r in graph_rows]
    )
    edges = [
        {"src": f"user_{r['userId']}", "dst": r["isbn"],
         "value": None if r["rating"] is None else float(r["rating"])}
        for r in graph_rows
    ]
    return nodes, edges


def viz_records_knn(graph_rows: list[dict]) -> tuple[list[dict], list[dict]]:
    """``graph_data_knn`` rows given as dicts to pyvis nodes and edges
    (reference ``recommender_knn.py:82-159``): the target's and the similar users' rated books, every similar
    user as a dot, and user-user edges rescaled to ``1 + similarity * 9``."""
    books = _distinct(
        [{"userId": r["target_id"], "isbn": r["t_isbn"], "title": r["t_title"],
          "rating": r["t_rating"]} for r in graph_rows if r["t_isbn"] is not None]
        + [{"userId": r["sim_id"], "isbn": r["s_isbn"], "title": r["s_title"],
            "rating": r["s_rating"]} for r in graph_rows if r["s_isbn"] is not None]
    )
    nodes, edges = viz_records(books)
    sims = [r for r in graph_rows if r["sim_id"] is not None]
    nodes = _distinct(
        nodes + [{"id": f"user_{r['sim_id']}", "label": f"User {r['sim_id']}",
                  "shape": "dot", "color": None} for r in sims]
    )
    edges += _distinct(
        {"src": f"user_{r['target_id']}", "dst": f"user_{r['sim_id']}",
         "value": 1.0 + r["similarity"] * 9} for r in sims
    )
    return nodes, edges


def render_html(
    nodes: list[dict],
    edges: list[dict],
    title: str = "Recommendation graph",
    height: str = "600px",
) -> str:
    """Render ``viz_records`` output (nodes: id/label/shape/color,
    edges: src/dst/value) to a standalone vis-network HTML page string."""
    vis_nodes = []
    for r in nodes:
        node = {"id": r["id"], "label": r["label"], "shape": r["shape"]}
        if r["color"] is not None:
            node["color"] = r["color"]
        vis_nodes.append(node)
    vis_edges = [
        {
            "from": r["src"],
            "to": r["dst"],
            "value": r["value"],
            "title": str(r["value"]),
        }
        for r in edges
    ]
    return _TEMPLATE.format(
        title=_html.escape(title),
        height=_html.escape(height),
        cdn=_VIS_CDN,
        nodes_json=_script_json(vis_nodes),
        edges_json=_script_json(vis_edges),
    )


def write_html(
    nodes: list[dict],
    edges: list[dict],
    path: str,
    title: str = "Recommendation graph",
    height: str = "600px",
) -> str:
    """Write the rendered page to ``path`` (the streamlit_app.py:102-105
    temp-file flow) and return the path."""
    with open(path, "w", encoding="utf-8") as f:
        f.write(render_html(nodes, edges, title=title, height=height))
    return path
