"""PNG sink (S8): the reference's terminal artifact is a choropleth PNG
uploaded to object storage (`external_resources.py:54-68`,
`world_map_transformer.py:256-273`). The Spark-idiomatic split is:

- the ENGINE computes the small per-country aggregate (a few hundred
  rows after `world_map_job2_deviation`) — distributed, oracle-checked;
- the RENDER happens driver-side from the collected aggregate (SURVEY
  §1.1 "Figure" row), because rasterization of a <1 kB result is not
  cluster work.

This container ships no matplotlib/geopandas, so the renderer here is a
dependency-free PNG encoder (stdlib zlib + struct — PNG is zlib-deflated
filtered scanlines). `render_choropleth_png` (the S8 artifact) draws an
equirectangular world raster where each country's polygon outline
(COUNTRY_POLYGONS — a coarse hand-digitized atlas; scanline even-odd fill)
is colored by the deviation value's position between the min/max bounds
(O30's Normalize(vmin, vmax) in the reference), NULL-valued countries grey,
coastline 1-px darkened, ocean light blue — the reference's geopandas
choropleth visual contract (`world_map_transformer.py:214-254`) with
simplified geometry (naturalearth isn't shipped in this container).

A real deployment swaps the coarse atlas for naturalearth polygon rings
one-for-one (the scanline fill consumes any ring list); `save_png`
(atomic tmp+rename write) and the collect-then-render contract stay
identical.
"""

from __future__ import annotations

import os
import struct
import zlib

from pyspark.sql import DataFrame

_PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(tag: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + tag
        + payload
        + struct.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)
    )


def _color(t: float) -> tuple[int, int, int]:
    """Blue (low) -> white (mid) -> red (high), t in [0, 1]."""
    t = min(1.0, max(0.0, t))
    if t < 0.5:
        s = t * 2.0
        return int(255 * s), int(255 * s), 255
    s = (t - 0.5) * 2.0
    return 255, int(255 * (1.0 - s)), int(255 * (1.0 - s))


# Approximate country bounding boxes (lon_min, lon_max, lat_min, lat_max),
# public-geography approximations for the engine's static geo dim
# (plans/pipelines.py:WORLD_GEO). A real deployment replaces this atlas
# with naturalearth polygons; the renderer contract is unchanged.
COUNTRY_BOXES: dict[str, tuple[float, float, float, float]] = {
    "USA": (-125.0, -70.0, 25.0, 49.0),
    "BRA": (-74.0, -35.0, -33.0, 5.0),
    "ARG": (-73.0, -53.0, -55.0, -22.0),
    "GBR": (-8.0, 2.0, 50.0, 59.0),
    "FRA": (-5.0, 8.0, 42.0, 51.0),
    "ESP": (-9.0, 3.0, 36.0, 44.0),
    "DEU": (6.0, 15.0, 47.0, 55.0),
    "ITA": (7.0, 18.0, 37.0, 47.0),
    "SWE": (11.0, 24.0, 55.0, 69.0),
    "NOR": (4.0, 31.0, 58.0, 71.0),
    "POL": (14.0, 24.0, 49.0, 55.0),
    "JPN": (129.0, 146.0, 31.0, 45.0),
    "CHN": (74.0, 135.0, 18.0, 53.0),
    "IND": (68.0, 97.0, 8.0, 35.0),
}

# Country OUTLINES (lon, lat vertex rings; multi-ring = islands) —
# hand-digitized public-geography approximations, densified in round 5
# to ~25-60 vertices per ring (major capes, gulfs, peninsulas and land
# borders traced; shared borders reuse identical vertex chains so
# neighboring fills meet without gaps). This is the embedded-atlas
# equivalent of the reference's naturalearth polygons
# (`world_map_transformer.py:214-254`); a production deployment swaps
# this atlas for naturalearth WKT one-for-one (the fill algorithm below
# consumes any ring list). Each country's interior anchor for tests
# lives in COUNTRY_LABEL_POINTS (box centers are NOT guaranteed
# interior for concave coastlines — e.g. Japan's box center is in the
# Sea of Japan).
COUNTRY_POLYGONS: dict[str, list[list[tuple[float, float]]]] = {
    # Contiguous US: Pacific coast, Mexican border, Gulf coast, Florida,
    # Atlantic seaboard, Maine, Great Lakes chain, the 49th parallel.
    "USA": [[(-124.7, 48.4), (-124.4, 43.0), (-124.3, 40.3), (-120.6, 34.6),
             (-117.1, 32.5), (-114.8, 32.5), (-111.0, 31.3), (-108.2, 31.3),
             (-106.5, 31.8), (-103.0, 29.0), (-101.4, 29.8), (-99.1, 26.4),
             (-97.1, 25.9), (-97.0, 28.0), (-93.8, 29.7), (-90.1, 29.1),
             (-89.0, 30.2), (-85.0, 29.7), (-84.0, 30.1), (-82.6, 27.9),
             (-81.8, 26.0), (-80.9, 25.1), (-80.0, 26.8), (-81.0, 29.5),
             (-81.4, 30.7), (-79.0, 33.8), (-75.5, 35.2), (-76.0, 37.0),
             (-74.0, 40.5), (-70.5, 41.7), (-70.8, 43.0), (-68.8, 44.8),
             (-67.0, 45.2), (-69.0, 47.4), (-71.5, 45.0), (-75.0, 45.0),
             (-76.8, 43.6), (-79.0, 43.3), (-82.4, 41.7), (-83.1, 42.3),
             (-82.5, 45.3), (-84.8, 46.5), (-88.0, 48.3), (-90.0, 48.1),
             (-95.2, 49.0), (-123.0, 49.0), (-123.2, 48.3)]],
    # Brazil: Amazon mouth, the eastern bulge, the southern coast, the
    # Paraguay/Bolivia/Peru borders, the Acre panhandle.
    "BRA": [[(-69.9, -4.2), (-69.4, 0.6), (-67.0, 1.7), (-64.7, 4.1),
             (-60.6, 5.2), (-59.5, 1.3), (-56.5, 1.9), (-54.0, 2.3),
             (-51.7, 4.3), (-50.0, 0.0), (-48.5, -1.5), (-44.3, -2.5),
             (-41.8, -2.9), (-38.5, -3.7), (-35.2, -5.5), (-34.8, -7.1),
             (-35.0, -9.0), (-37.0, -11.0), (-38.5, -13.0), (-39.0, -17.5),
             (-40.9, -21.3), (-43.2, -22.9), (-46.3, -24.0), (-48.5, -25.5),
             (-48.6, -28.6), (-51.2, -30.0), (-53.4, -33.7), (-57.6, -30.2),
             (-55.7, -28.2), (-54.6, -25.4), (-55.8, -22.3), (-57.9, -22.1),
             (-58.0, -20.2), (-57.8, -17.5), (-60.2, -16.3), (-60.5, -13.8),
             (-65.3, -11.5), (-69.5, -10.9), (-73.8, -7.3), (-70.0, -4.4)]],
    # Argentina: Chaco north, Mesopotamia, Rio de la Plata, Patagonian
    # Atlantic coast to Tierra del Fuego strait, the Andes border back north.
    "ARG": [[(-66.3, -21.8), (-64.3, -22.8), (-62.3, -22.2), (-60.9, -23.9),
             (-58.6, -24.8), (-57.6, -25.6), (-54.6, -25.6), (-53.8, -27.1),
             (-55.0, -28.8), (-58.2, -32.5), (-58.4, -33.1), (-58.0, -34.8),
             (-56.7, -36.3), (-62.3, -38.8), (-62.2, -40.8), (-65.1, -40.8),
             (-65.0, -42.1), (-63.6, -42.6), (-65.3, -43.7), (-67.5, -46.0),
             (-67.6, -47.8), (-69.0, -50.3), (-68.4, -52.3), (-71.9, -52.0),
             (-71.7, -48.0), (-71.7, -44.0), (-71.9, -41.0), (-70.4, -36.2),
             (-70.0, -33.3), (-69.8, -30.2), (-68.5, -24.8), (-67.3, -22.9)]],
    # Great Britain: Land's End clockwise via Dover, the Wash, Scotland,
    # the Irish Sea, Wales, the Bristol Channel.
    "GBR": [[(-5.7, 50.1), (-4.5, 50.3), (-2.5, 50.6), (-0.8, 50.8),
             (1.4, 51.2), (1.7, 52.5), (0.2, 52.9), (0.0, 53.5),
             (-0.1, 54.1), (-1.3, 54.8), (-1.6, 55.6), (-2.6, 56.0),
             (-2.0, 57.5), (-3.1, 58.5), (-5.0, 58.6), (-5.8, 57.9),
             (-5.7, 56.9), (-5.6, 55.3), (-5.0, 54.8), (-3.2, 54.9),
             (-3.2, 54.1), (-4.7, 53.3), (-4.1, 52.9), (-4.8, 52.8),
             (-4.1, 52.3), (-5.3, 51.9), (-4.2, 51.7), (-3.1, 51.4),
             (-4.2, 51.2)]],
    # France hexagon: Channel coast, Brittany, Biscay, Pyrenees, the
    # Mediterranean arc, the Alpine and Rhine borders.
    "FRA": [[(2.5, 51.1), (1.6, 50.9), (0.2, 49.7), (-1.3, 49.7),
             (-1.9, 49.7), (-1.6, 48.6), (-2.7, 48.6), (-4.8, 48.4),
             (-4.3, 47.8), (-2.5, 47.3), (-1.2, 46.3), (-1.1, 45.6),
             (-1.2, 44.2), (-1.4, 43.4), (0.7, 42.7), (2.0, 42.4),
             (3.1, 42.4), (3.0, 43.1), (4.1, 43.5), (5.3, 43.3),
             (6.6, 43.2), (7.5, 43.8), (7.0, 44.2), (6.8, 45.0),
             (7.0, 45.9), (6.8, 46.4), (7.6, 47.6), (8.2, 48.9),
             (6.6, 49.5), (6.2, 49.5), (4.9, 50.0), (4.2, 50.3)]],
    # Iberia (Spain): Cantabrian coast, Catalonia, the Levante,
    # Andalusia, the Portuguese border.
    "ESP": [[(-8.9, 43.3), (-7.7, 43.8), (-5.8, 43.7), (-3.8, 43.5),
             (-1.8, 43.4), (0.7, 42.7), (3.3, 42.3), (2.1, 41.3),
             (0.5, 40.5), (-0.3, 39.5), (0.2, 38.8), (-0.5, 38.3),
             (-2.4, 36.8), (-4.4, 36.7), (-5.3, 36.0), (-6.3, 36.5),
             (-7.4, 37.2), (-7.4, 37.5), (-7.0, 38.9), (-7.2, 39.7),
             (-6.8, 41.0), (-6.2, 41.6), (-6.6, 42.0), (-8.2, 42.1),
             (-8.9, 41.9), (-8.7, 42.3)]],
    # Germany: North Sea + Baltic coasts, the Oder-Neisse line, the
    # Czech/Austrian/Swiss borders, the Rhine frontier.
    "DEU": [[(7.0, 53.3), (8.5, 53.5), (8.9, 53.9), (8.6, 54.9),
             (9.4, 54.8), (10.0, 54.5), (10.9, 53.9), (12.5, 54.4),
             (13.4, 54.6), (14.2, 53.9), (14.6, 52.8), (14.6, 51.8),
             (14.8, 50.9), (12.1, 50.3), (13.8, 48.7), (12.8, 48.5),
             (12.9, 47.7), (11.0, 47.4), (10.2, 47.3), (9.6, 47.5),
             (8.6, 47.8), (7.6, 47.6), (7.5, 48.9), (6.7, 49.2),
             (6.1, 50.1), (6.0, 50.8), (5.9, 51.8), (6.8, 52.2),
             (7.2, 53.3)]],
    # Italy: the boot (Ligurian arc, Tyrrhenian coast, Calabrian toe,
    # Taranto gulf, Adriatic back up to the Alps) + Sicily + Sardinia.
    "ITA": [[(7.5, 43.8), (8.9, 44.4), (10.2, 43.9), (10.5, 42.9),
             (11.1, 42.4), (11.8, 42.1), (13.6, 41.2), (14.3, 40.8),
             (15.7, 39.9), (16.2, 38.9), (15.7, 37.9), (16.1, 37.9),
             (16.6, 38.4), (17.1, 38.9), (16.5, 39.8), (17.2, 40.5),
             (18.4, 39.8), (18.5, 40.1), (18.0, 40.7), (16.9, 41.1),
             (16.2, 41.9), (15.4, 41.9), (14.7, 42.1), (13.6, 43.6),
             (12.3, 44.4), (12.5, 45.5), (13.6, 45.8), (13.7, 46.5),
             (12.4, 46.7), (11.1, 47.0), (10.0, 46.6), (9.0, 46.2),
             (7.7, 45.9), (7.0, 45.2), (7.0, 44.2)],
            [(12.4, 37.8), (13.3, 38.2), (14.3, 38.0), (15.6, 38.3),
             (15.1, 36.7), (12.8, 37.6)],
            [(8.2, 40.9), (9.2, 41.3), (9.6, 40.9), (9.8, 40.5),
             (9.6, 39.2), (9.1, 39.2), (8.4, 38.9), (8.4, 39.8),
             (8.2, 40.6)]],
    # Sweden: Skagerrak, Scania, the Baltic coast up the Gulf of
    # Bothnia, the Finnish border, the shared Scandinavian-ridge chain
    # with Norway (identical vertices on both sides).
    "SWE": [[(11.2, 59.1), (11.9, 57.4), (12.9, 55.4), (14.2, 55.4),
             (14.7, 56.2), (16.0, 56.2), (16.7, 57.7), (17.1, 58.7),
             (18.3, 59.4), (18.6, 60.2), (17.2, 60.7), (17.3, 61.7),
             (18.5, 62.3), (19.3, 63.2), (20.9, 63.8), (22.3, 65.5),
             (24.1, 65.8), (23.7, 66.5), (23.6, 67.4), (22.8, 68.4),
             (20.5, 69.1), (20.0, 68.6), (18.1, 68.5), (16.7, 67.9),
             (15.4, 66.6), (14.5, 65.3), (14.1, 64.2), (12.7, 64.0),
             (12.1, 63.0), (12.3, 61.6), (12.9, 61.4), (12.2, 61.0),
             (11.7, 59.9)]],
    # Norway (mainland): Skagerrak, the fjord coast to Nordkapp, the
    # Varanger fjord, then the Finnish/Swedish border chain south (the
    # Swedish-border vertices are IDENTICAL to the Swedish ring's, so
    # the two fills meet without gap or overlap).
    "NOR": [[(8.0, 58.1), (7.0, 58.0), (5.5, 58.7), (5.0, 59.8),
             (4.9, 61.0), (5.1, 62.0), (6.2, 62.5), (7.1, 63.0),
             (9.5, 63.6), (11.0, 64.9), (12.2, 66.5), (13.5, 67.5),
             (14.5, 68.2), (16.0, 68.4), (17.5, 69.0), (18.9, 69.7),
             (21.5, 70.2), (24.0, 71.0), (25.8, 71.0), (27.5, 71.0),
             (29.7, 70.7), (31.0, 70.4), (30.0, 69.8), (28.5, 69.2),
             (27.0, 69.9), (25.8, 69.0), (23.9, 68.8), (21.9, 69.0),
             (20.5, 69.1), (18.1, 68.5), (16.7, 67.9), (15.4, 66.6),
             (14.5, 65.3), (14.1, 64.2), (12.7, 64.0), (12.1, 63.0),
             (12.3, 61.6), (12.9, 61.4), (12.2, 61.0), (11.7, 59.9),
             (11.2, 59.1), (9.6, 59.0)]],
    # Poland: Baltic coast, the Kaliningrad/Lithuania/Belarus line, the
    # Bug, the Carpathian and Sudetes borders, the Oder-Neisse line
    # (identical vertices to the German ring).
    "POL": [[(14.6, 52.8), (14.2, 53.9), (16.2, 54.3), (18.3, 54.8),
             (19.6, 54.5), (22.8, 54.4), (23.5, 53.9), (23.9, 53.2),
             (23.6, 52.6), (23.6, 52.0), (24.0, 50.8), (22.7, 49.6),
             (22.6, 49.1), (21.0, 49.4), (20.1, 49.2), (18.8, 49.5),
             (18.6, 49.9), (17.7, 50.3), (16.9, 50.4), (16.2, 50.7),
             (15.0, 51.0), (14.8, 50.9), (14.6, 51.8)]],
    # Japan: Honshu, Hokkaido, Kyushu, Shikoku (four rings).
    "JPN": [[(140.9, 41.5), (141.5, 40.5), (141.7, 39.2), (141.0, 38.3),
             (140.9, 35.7), (139.8, 34.9), (139.1, 35.2), (138.9, 34.6),
             (137.0, 34.6), (136.5, 34.2), (135.8, 33.4), (135.1, 33.9),
             (135.4, 34.6), (134.7, 34.8), (133.5, 34.4), (132.4, 34.3),
             (130.9, 34.0), (130.9, 34.4), (132.1, 35.1), (133.1, 35.5),
             (134.4, 35.6), (135.9, 35.6), (136.1, 36.2), (136.8, 37.4),
             (137.3, 37.5), (138.5, 37.4), (139.4, 38.1), (140.0, 39.4),
             (140.0, 40.4), (140.3, 41.2)],
            [(140.4, 42.3), (140.7, 43.2), (141.7, 44.3), (141.9, 45.5),
             (142.7, 44.8), (143.8, 44.1), (145.3, 44.3), (145.8, 43.4),
             (144.3, 42.9), (143.2, 41.9), (142.0, 42.5), (140.9, 42.6)],
            [(130.4, 33.9), (131.0, 33.6), (131.9, 32.8), (131.5, 31.6),
             (130.7, 31.0), (130.2, 31.3), (130.2, 32.1), (129.8, 32.6),
             (130.4, 33.1), (129.9, 33.4)],
            [(132.8, 34.0), (134.6, 34.2), (134.7, 33.8), (134.2, 33.2),
             (133.3, 33.4), (132.8, 32.8), (132.4, 33.0), (132.4, 33.4)]],
    # China: the Pamir-Altai-Mongolia-Amur land border, the Yellow/East/
    # South China Sea coast, the Indochina and Himalayan borders.
    "CHN": [[(73.6, 39.5), (76.5, 40.4), (79.9, 42.0), (80.2, 45.1),
             (82.3, 45.5), (85.5, 47.0), (87.3, 49.1), (90.9, 46.9),
             (95.9, 44.3), (100.8, 42.6), (105.0, 41.6), (109.5, 42.5),
             (111.9, 43.7), (116.6, 44.8), (119.7, 46.6), (117.4, 49.6),
             (119.3, 50.3), (121.5, 53.3), (124.8, 53.2), (126.5, 52.8),
             (127.5, 50.2), (130.5, 48.9), (133.1, 48.1), (134.7, 48.4),
             (134.0, 47.2), (131.0, 45.3), (131.3, 44.0), (130.4, 42.7),
             (129.7, 42.4), (128.0, 41.4), (126.0, 40.9), (124.4, 40.1),
             (121.6, 38.9), (121.2, 40.9), (119.0, 39.8), (117.8, 39.0),
             (118.0, 38.2), (119.2, 37.7), (120.4, 37.5), (122.5, 37.4),
             (120.3, 36.1), (119.2, 34.8), (120.9, 32.6), (121.9, 31.3),
             (121.1, 30.3), (121.9, 29.6), (121.5, 28.2), (120.3, 27.1),
             (119.6, 25.7), (118.1, 24.5), (116.5, 23.4), (114.3, 22.5),
             (113.5, 22.2), (112.0, 21.8), (110.4, 21.2), (109.7, 21.4),
             (108.3, 21.5), (106.7, 22.8), (105.3, 23.2), (103.9, 22.5),
             (102.1, 22.4), (101.8, 21.1), (100.1, 21.5), (99.2, 22.1),
             (98.7, 24.1), (97.5, 24.7), (98.7, 27.5), (97.3, 28.2),
             (96.1, 29.4), (94.6, 29.3), (92.1, 27.8), (89.5, 28.0),
             (85.8, 28.2), (82.1, 30.1), (79.0, 31.4), (78.4, 32.5),
             (78.9, 34.3), (77.8, 35.5), (75.9, 36.7), (74.6, 37.2)]],
    # India: Kutch, the peninsular V (Konkan-Malabar down, Coromandel
    # up), Bengal, the NE wing, the Himalayan arc, the western border.
    "IND": [[(68.2, 23.7), (70.5, 22.9), (70.8, 20.7), (72.6, 21.7),
             (72.8, 19.0), (73.5, 16.1), (74.4, 14.3), (74.9, 12.8),
             (75.9, 11.4), (76.6, 9.5), (77.5, 8.1), (78.1, 8.9),
             (79.3, 9.2), (79.9, 10.3), (80.3, 13.1), (80.3, 15.7),
             (83.3, 17.7), (85.1, 19.5), (86.5, 20.1), (87.1, 21.7),
             (88.1, 21.6), (88.1, 24.3), (88.7, 25.2), (88.1, 26.4),
             (89.7, 26.2), (92.2, 25.0), (92.2, 24.1), (94.0, 23.9),
             (94.6, 25.2), (95.2, 26.6), (97.0, 27.7), (96.1, 29.4),
             (94.6, 29.3), (92.1, 27.8), (89.5, 28.0), (85.8, 28.2),
             (82.1, 30.1), (79.0, 31.4), (78.4, 32.5), (78.9, 34.3),
             (77.8, 35.5), (76.8, 34.7), (74.3, 34.8), (74.0, 33.2),
             (74.6, 32.5), (74.5, 31.1), (73.9, 29.4), (72.3, 28.7),
             (71.0, 27.9), (70.1, 26.6), (69.5, 26.8), (70.1, 25.7),
             (70.9, 24.3), (68.8, 24.3)]],
}

# Guaranteed-interior anchor per country (roughly the naturalearth
# label point): the test probe and any annotation layer use THESE, not
# bounding-box centers — a box center can fall in the sea for concave
# coastlines (Japan's is in the Sea of Japan, Norway's in Sweden).
COUNTRY_LABEL_POINTS: dict[str, tuple[float, float]] = {
    "USA": (-98.0, 39.0),
    "BRA": (-52.0, -10.0),
    "ARG": (-65.0, -35.0),
    "GBR": (-1.5, 52.5),
    "FRA": (2.5, 47.0),
    "ESP": (-4.0, 40.0),
    "DEU": (10.0, 51.0),
    "ITA": (12.7, 42.6),
    "SWE": (15.5, 60.0),
    "NOR": (9.0, 61.0),
    "POL": (19.0, 52.0),
    "JPN": (139.5, 36.2),
    "CHN": (105.0, 35.0),
    "IND": (78.0, 23.0),
}

_OCEAN = (210, 228, 240)
_NODATA = (128, 128, 128)

WORLD_W = 720  # 0.5 degree per pixel
WORLD_H = 360


def _row_spans(
    rings: list[list[tuple[float, float]]], lat: float
) -> list[tuple[float, float]]:
    """Horizontal-scanline x-intervals (in lon) covered by the polygon at
    `lat`, even-odd rule with the half-open [y0, y1) edge convention (the
    standard fill rule — vertices and horizontal edges never double-count).
    """
    xs: list[float] = []
    for ring in rings:
        n = len(ring)
        for i in range(n):
            x0, y0 = ring[i]
            x1, y1 = ring[(i + 1) % n]
            if y0 == y1:
                continue
            if (y0 <= lat < y1) or (y1 <= lat < y0):
                xs.append(x0 + (lat - y0) * (x1 - x0) / (y1 - y0))
    xs.sort()
    return [(xs[i], xs[i + 1]) for i in range(0, len(xs) - 1, 2)]


def render_choropleth_png(
    values_by_iso3: dict[str, float | None],
    width: int = WORLD_W,
    height: int = WORLD_H,
    bbox: tuple[float, float, float, float] | None = None,
) -> bytes:
    """Equirectangular choropleth: each known country's polygon
    outline (COUNTRY_POLYGONS, scanline even-odd fill; bounding-box
    fallback for atlas misses) filled with the blue-white-red colormap of
    its value (grey for NULL), darkened 1-px coast border, ocean
    elsewhere. Unknown iso-3 keys are ignored (the reference's behavior
    for countries absent from the geo frame). `bbox` =
    (lon_min, lon_max, lat_min, lat_max) crops the viewport (the
    per-continent facet); default is the whole world, bit-identical to
    the pre-bbox renderer."""
    vb_lon0, vb_lon1, vb_lat0, vb_lat1 = bbox or (-180.0, 180.0, -90.0, 90.0)
    lon_span = (vb_lon1 - vb_lon0) or 1.0
    lat_span = (vb_lat1 - vb_lat0) or 1.0
    vals = [v for v in values_by_iso3.values() if v is not None]
    lo = min(vals) if vals else 0.0
    hi = max(vals) if vals else 1.0
    span = (hi - lo) or 1.0

    # Paint into a flat RGB buffer, countries sorted for determinism.
    px = bytearray(bytes(_OCEAN) * (width * height))
    for iso3 in sorted(values_by_iso3):
        v = values_by_iso3[iso3]
        color = _color((v - lo) / span) if v is not None else _NODATA
        border = (
            max(0, color[0] - 60), max(0, color[1] - 60), max(0, color[2] - 60)
        )
        rings = COUNTRY_POLYGONS.get(iso3)
        if rings is not None:
            for y in range(height):
                lat = vb_lat1 - (y + 0.5) / height * lat_span
                base = y * width
                for lon0, lon1 in _row_spans(rings, lat):
                    x0 = max(0, int((lon0 - vb_lon0) / lon_span * width))
                    x1 = min(width, int((lon1 - vb_lon0) / lon_span * width) + 1)
                    # Sub-pixel span at small render sizes: keep the
                    # country visible with at least one pixel.
                    if x1 <= x0 and x0 < width:
                        x1 = x0 + 1
                    for x in range(x0, x1):
                        c = border if x in (x0, x1 - 1) else color
                        off = (base + x) * 3
                        px[off : off + 3] = bytes(c)
            continue
        box = COUNTRY_BOXES.get(iso3)
        if box is None:
            continue
        lon_min, lon_max, lat_min, lat_max = box
        x0 = int((lon_min - vb_lon0) / lon_span * width)
        x1 = int((lon_max - vb_lon0) / lon_span * width)
        y0 = int((vb_lat1 - lat_max) / lat_span * height)
        y1 = int((vb_lat1 - lat_min) / lat_span * height)
        # Sub-pixel box at small render sizes: paint at least one pixel.
        x1 = max(x1, min(x0 + 1, width))
        y1 = max(y1, min(y0 + 1, height))
        for y in range(max(0, y0), min(height, y1)):
            on_edge_y = y in (y0, y1 - 1)
            base = y * width
            for x in range(max(0, x0), min(width, x1)):
                c = border if (on_edge_y or x in (x0, x1 - 1)) else color
                off = (base + x) * 3
                px[off : off + 3] = bytes(c)

    raw = b"".join(
        b"\x00" + bytes(px[y * width * 3 : (y + 1) * width * 3])
        for y in range(height)
    )
    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(raw, 9))
        + _chunk(b"IEND", b"")
    )


def save_png(png_bytes: bytes, path: str) -> str:
    """Atomic local/object-store-adapter write (tmp + rename), mirroring
    the reference's buffer-then-upload (`external_resources.py:64-68`)."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = path + ".tmp"
    with open(tmp, "wb") as f:
        f.write(png_bytes)
    os.replace(tmp, path)
    return path


def world_map_png(deviation_df: DataFrame, value_col: str, key_col: str, path: str) -> str:
    """S8 end-to-end: collect the (small) deviation aggregate keyed by
    iso-3, render the world choropleth, write atomically. Last value wins
    on duplicate keys after a deterministic sort (the EU-collapsed rows
    carry equal fills, so order doesn't change the artifact)."""
    rows = deviation_df.select(key_col, value_col).collect()
    rows.sort(key=lambda r: (r[key_col] is None, r[key_col]))
    values = {r[key_col]: r[value_col] for r in rows if r[key_col] is not None}
    png = render_choropleth_png(values)
    return save_png(png, path)


def _facet_bbox(
    iso3s, pad_deg: float = 3.0
) -> tuple[float, float, float, float]:
    """Union bounding box of the atlas shapes for a set of iso-3 keys,
    padded and clamped — the viewport for one facet's cropped render."""
    lon0, lon1, lat0, lat1 = 180.0, -180.0, 90.0, -90.0
    found = False
    for iso3 in iso3s:
        rings = COUNTRY_POLYGONS.get(iso3)
        if rings is not None:
            for ring in rings:
                for x, y in ring:
                    lon0, lon1 = min(lon0, x), max(lon1, x)
                    lat0, lat1 = min(lat0, y), max(lat1, y)
            found = True
            continue
        box = COUNTRY_BOXES.get(iso3)
        if box is not None:
            lon0, lon1 = min(lon0, box[0]), max(lon1, box[1])
            lat0, lat1 = min(lat0, box[2]), max(lat1, box[3])
            found = True
    if not found:
        return (-180.0, 180.0, -90.0, 90.0)
    return (
        max(-180.0, lon0 - pad_deg),
        min(180.0, lon1 + pad_deg),
        max(-90.0, lat0 - pad_deg),
        min(90.0, lat1 + pad_deg),
    )


def facet_map_pngs(
    df: DataFrame,
    value_col: str,
    key_col: str,
    facet_col: str,
    out_dir: str,
    width: int = 360,
    height: int = 180,
) -> DataFrame:
    """Partitioned rendering (the S8 sink under groupBy-parallelism):
    one cropped choropleth PER FACET (e.g. continent), each rendered
    INSIDE its executor task via applyInPandas and written atomically
    through save_png's tmp+rename. The driver never sees pixel buffers —
    only the bounded (facet, path, n_keys, png_size) manifest comes
    back, which is the shape that scales to thousands of facet tiles on
    a real cluster (each task renders and uploads its own artifact, the
    reference's buffer-then-upload per figure, external_resources.py:64).

    The input must already be the bounded deviation aggregate (countries
    x facets, dozens of rows) — this is an artifact sink, not a fact
    operator."""
    import pandas as pd

    schema = (
        f"{facet_col} string, path string, n_keys long, png_size long"
    )

    def render(pdf: "pd.DataFrame") -> "pd.DataFrame":
        facet = str(pdf[facet_col].iloc[0])
        values = {
            str(k): (None if pd.isna(v) else float(v))
            for k, v in zip(pdf[key_col], pdf[value_col])
            if not pd.isna(k)
        }
        png = render_choropleth_png(
            values, width, height, bbox=_facet_bbox(values)
        )
        path = save_png(png, os.path.join(out_dir, f"{facet}.png"))
        return pd.DataFrame(
            {
                facet_col: [facet],
                "path": [path],
                "n_keys": [len(values)],
                "png_size": [len(png)],
            }
        )

    return (
        df.select(facet_col, key_col, value_col)
        .groupBy(facet_col)
        .applyInPandas(render, schema)
    )
