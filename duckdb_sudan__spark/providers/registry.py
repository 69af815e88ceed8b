"""Provider registry and supported-country table.

Parity: reference `src/sudan/providers.hpp:29-75` + `providers.cpp:6-52`
(provider ids/names/base URLs, 8 supported countries, ISO2→ISO3
normalization, code validation). Data values are public facts (ISO
3166 codes, agency names, public API base URLs).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class Country:
    iso3: str
    iso2: str
    name: str
    name_ar: str


@dataclass(frozen=True)
class Provider:
    id: str
    name: str
    name_ar: str
    description: str
    base_url: str


# Sudan + neighbors — reference providers.hpp:29-40
COUNTRIES: tuple[Country, ...] = (
    Country("SDN", "SD", "Sudan", "السودان"),
    Country("EGY", "EG", "Egypt", "مصر"),
    Country("ETH", "ET", "Ethiopia", "إثيوبيا"),
    Country("TCD", "TD", "Chad", "تشاد"),
    Country("SSD", "SS", "South Sudan", "جنوب السودان"),
    Country("ERI", "ER", "Eritrea", "إريتريا"),
    Country("LBY", "LY", "Libya", "ليبيا"),
    Country("CAF", "CF", "Central African Republic", "جمهورية أفريقيا الوسطى"),
)

# Reference providers.hpp:43-66
PROVIDERS: tuple[Provider, ...] = (
    Provider(
        "worldbank",
        "World Bank",
        "البنك الدولي",
        "World Development Indicators and other World Bank datasets",
        "https://api.worldbank.org/v2/",
    ),
    Provider(
        "who",
        "World Health Organization",
        "منظمة الصحة العالمية",
        "Global Health Observatory (GHO) data",
        "https://ghoapi.azureedge.net/api/",
    ),
    Provider(
        "fao",
        "Food and Agriculture Organization",
        "منظمة الأغذية والزراعة",
        "FAOSTAT agricultural statistics",
        "https://faostatservices.fao.org/api/v1/",
    ),
    Provider(
        "unhcr",
        "UNHCR",
        "المفوضية السامية",
        "UN Refugee Agency displacement and population data",
        "https://api.unhcr.org/population/v1/",
    ),
    Provider(
        "ilo",
        "International Labour Organization",
        "منظمة العمل الدولية",
        "International Labour Organization statistics",
        "https://sdmx.ilo.org/rest/",
    ),
)


def find_country(iso3: str) -> Country | None:
    for c in COUNTRIES:
        if c.iso3 == iso3:
            return c
    return None


def find_provider(provider_id: str) -> Provider | None:
    for p in PROVIDERS:
        if p.id == provider_id:
            return p
    return None


def validate_country_codes(codes: list[str]) -> bool:
    return all(any(c.iso3 == code or c.iso2 == code for c in COUNTRIES) for code in codes)


def normalize_country_code(code: str) -> str:
    """ISO2 or ISO3 → ISO3; unknown codes pass through unchanged
    (reference providers.cpp:40-52)."""
    for c in COUNTRIES:
        if code in (c.iso3, c.iso2):
            return c.iso3
    return code


def resolve_countries(countries: list[str] | None) -> list[str]:
    """Default to Sudan; normalize ISO2→ISO3 (reference
    wb_functions.cpp:66-79)."""
    if not countries:
        return ["SDN"]
    return [normalize_country_code(c) for c in countries]
