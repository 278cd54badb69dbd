use serde::{Deserialize, Serialize};
use serde_json::Value;

#[derive(Debug, Clone, Serialize, Deserialize)]
pub struct RecordUser {
    pub id: i64,
    #[serde(default, skip_serializing_if = "Option::is_none")]
    pub email: Option<String>,
}

#[derive(Debug, Clone, Serialize, Deserialize)]
pub struct Record {
    pub id: i64,
    #[serde(default, skip_serializing_if = "Option::is_none")]
    pub name: Option<String>,
    pub price: f64,
    pub active: bool,
    #[serde(default, skip_serializing_if = "Option::is_none")]
    pub tags: Option<Value>,
    pub user: RecordUser,
    #[serde(rename = "display-name")]
    pub display_name: String,
}
